package graft.ros.etl

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.Seqno
import graft.ros.bag.RosbagTypedRead

/** The route-by-type ETL every container runs (rosbag, MCAP, db3): the
  * reference's one pass that hands each message to its type's table
  * (FlattenedRosWriter.cpp:273-289). A container supplies a [[Source]]:
  * one scan over its files, how the scan's columns land in the tables,
  * and its index census (the (type, md5) variants, a (file, id) → route
  * map, its dimension rows). The core then, in order:
  *  1. declares the increment in-flight in the commit record
  *     (BagEtl.repairCrashedIncrement reads it);
  *  2. names each variant's table ([[tableNames]]);
  *  3. numbers the messages in merge-time order: in the scan when the
  *     source's index can (`Source.indexSeqno`), otherwise by staging a
  *     (time, identity) spine, numbering it with `Seqno.globalSeqno`
  *     and joining that seqno map to the scan once;
  *  4. keeps the first `maxMessages` of them (seqno < n);
  *  5. writes Messages, every variant table and the RawMessages / blob
  *     side tables in ONE Spark job ([[RoutedTableWrite]]);
  *  6. writes the dimension last, from the driver: it is the
  *     increment's commit record (runIncremental's done-set);
  *  7. writes the DDL of the tables this run created, the `_tables.json`
  *     manifest and the finalized commit record;
  * and sums the run's `info` from the job's tasks, with no re-read.
  */
private[ros] object RoutedEtl {

  /** Decodes one payload into its type's flattened column values
    * (RosSchemaMapper.flatSchema order). Shipped to the tasks, where an
    * implementation parses its definition once per task.
    */
  abstract class PayloadDecoder extends Serializable {
    def decode(data: Array[Byte]): Seq[Any]
  }

  /** A (type name, md5) variant: its manifest key, the base of its table
    * name and its flattened payload columns.
    */
  final case class Variant(name: String, md5: String, base: String, payload: Seq[StructField])

  /** The dimension table (Connections / Channels / Topics). */
  final case class Dimension(name: String, schema: StructType, rows: Seq[Row])

  /** What a container hands the core.
    *
    * @param scan one scan relation over every file of the slice
    * @param messages Messages' columns after seqno, over `scan`; they
    *        include `size` and `data_crc32`, which `info` sums
    * @param nativeTime the `nativeTimestamp` column, over `messages`
    * @param order merge-time order with the identity tie-breaks
    * @param identity a message's unique key, a subset of `order`
    * @param indexSeqno the scan's own seqno, when its index numbers it
    * @param key the (path, id) columns the routes are keyed by
    * @param tail typed tables' columns after the payload
    * @param raw RawMessages' columns between seqno and data
    * @param variants the census's variants, in (name, md5) order
    * @param decoders per route: its variant and decoder
    * @param routeOf path → id → route (< 0: RawMessages)
    * @param messagesNullable / typedSeqnoNullable declare Messages'
    *        columns after seqno and the typed tables' seqno OPTIONAL:
    *        MCAP and db3 tables have always declared the nullability of
    *        the staged re-reads they were first written from
    */
  final case class Source(scan: DataFrame, messages: Seq[Column], nativeTime: Column,
      order: Seq[String], identity: Seq[String], indexSeqno: Option[Column],
      key: (String, String), tail: Seq[String], raw: Seq[String],
      variants: Seq[Variant], decoders: IndexedSeq[(Int, PayloadDecoder)],
      routeOf: Map[String, Map[Long, Int]], dimension: Dimension,
      messagesNullable: Boolean = false, typedSeqnoNullable: Boolean = false)

  /** The files one conversion covers, the seqno it starts at, the
    * manifest's historical table names, and whether it appends.
    */
  final case class Slice(files: Seq[String], seqnoOffset: Long = 0L,
      naming: Map[(String, String), String] = Map.empty, append: Boolean = false)

  /** A conversion's `info`: its messages, their payload bytes and the
    * xor of their CRC32s, its dimension rows and each variant table's
    * rows.
    */
  final case class Result(count: Long, bytes: Long, crcXor: Long,
      dimensionRows: Long, tables: Map[String, Long])

  /** The slice an incremental append converts: on an output without
    * Messages, every file (a bootstrap into `out` itself, never a
    * versioned sibling); otherwise the files the dimension does not
    * list, after BagEtl.repairCrashedIncrement purged a crashed
    * increment's rows, numbered after the committed max.
    *
    * The done-set is the dimension's `pathCol` ALONE. The dimension is
    * written last, so its rows imply the whole increment landed, and a
    * zero-message file with connections is not re-converted each time.
    * Counting Messages' paths too would mark a file done after a crash
    * between the data job and the dimension write, a permanent hole in
    * the dimension; this way that file is redone, exactly once.
    */
  def increment(spark: SparkSession, out: String, all: Seq[String], pathCol: String,
      dimension: String): Slice = {
    if (!exists(s"$out/Messages.parquet")) Slice(all)
    else {
      val done =
        if (!exists(s"$out/$dimension.parquet")) Set.empty[String]
        else spark.read.parquet(s"$out/$dimension.parquet")
          .select(col(pathCol)).distinct().collect().map(_.getString(0)).toSet
      val committed = BagEtl.repairCrashedIncrement(spark, out, pathCol, done, dimension)
      Slice(all.filterNot(done), committed + 1, BagEtl.readManifest(out), append = true)
    }
  }

  /** Table names of the variants: the manifest's historical name wins;
    * a name with several md5s in this load, or a NEW md5 of a name the
    * manifest knows, gets `<base>__<md5 prefix>` (a historical plain
    * table is never renamed); any other variant gets the base.
    */
  def tableNames(variants: Seq[Variant], naming: Map[(String, String), String]): Seq[String] = {
    val drifted = variants.groupBy(_.name).filter(_._2.size > 1).keySet ++ naming.keys.map(_._1)
    variants.map(v => naming.getOrElse((v.name, v.md5),
      if (drifted(v.name)) s"${v.base}__${v.md5.take(8)}" else v.base))
  }

  /** Convert `slice` into `out`; `census` runs after the commit record
    * declared the increment. `blobThreshold` splits payloads above it
    * into `<table>_blobs` side tables (requires `keepRawBlob`).
    */
  def run(spark: SparkSession, out: String, slice: Slice, maxMessages: Option[Long],
      keepRawBlob: Boolean, nativeTimestamp: Boolean, blobThreshold: Option[Int] = None)(
      census: => Source): Result = {
    import slice._
    BagEtl.writeCommitRecord(out, seqnoOffset - 1, files)
    val src = census
    val names = tableNames(src.variants, naming)
    // incremental appends continue the dense seqno after the committed max
    def numberedFrom(df: DataFrame, seqno: Column, cols: Seq[Column]): DataFrame =
      df.select(seqno.as("seqno") +: cols: _*)
        .filter(maxMessages.fold(lit(true))(n => col("seqno") < n))
        .withColumn("seqno", col("seqno") + lit(seqnoOffset))
    // scratch dirs, Overwrite: a hard crash that never reached the
    // cleanup cannot fail the redo with "path exists". Each is written
    // through graft.io.LocalFs into its `data` subdir (Spark hides a
    // read's root path named `_...` and warns that it ignored it), and
    // read back with the schema just written (nullable, as Parquet
    // reports it): no schema-inference job
    val stageDir = s"$out/_spine"
    val seqnoDir = s"$out/_seqno"
    val localFs = graft.io.LocalFs.options(graft.ros.bag.RosbagIO.hadoopConf())
    def stage(df: DataFrame, dir: String): DataFrame = {
      df.write.mode(SaveMode.Overwrite).option("compression", "snappy").options(localFs)
        .parquet(s"$dir/data")
      spark.read.schema(StructType(df.schema.map(_.copy(nullable = true)))).parquet(s"$dir/data")
    }
    val cols = src.messages ++ (if (nativeTimestamp) Seq(src.nativeTime) else Nil) :+ col("data")

    val (sums, ddl) = try {
      // ONE frame of every kept message: (seqno, Messages columns, data)
      val frame = src.indexSeqno match {
        case Some(seqno) => numberedFrom(src.scan, seqno, cols)
        case None =>
          // the range-partition seqno needs two passes over its input
          // (bound sampling + shuffle write): run them against a staged
          // spine, not the files, and join its seqno map to the scan once
          val spine = stage(src.scan.select(src.order.map(col): _*), stageDir)
          val s = Seqno.globalSeqno(spine, src.order.map(col))
          val seqnos = stage(numberedFrom(s, col("seqno"), src.identity.map(col)), seqnoDir)
          src.scan.join(seqnos, src.identity).select(col("seqno") +: cols: _*)
      }
      val fields = frame.schema.fields
      def field(n: String): StructField = fields(frame.schema.fieldIndex(n))
      val seqno = StructField("seqno", LongType, nullable = false)
      val tables = scala.collection.mutable.ArrayBuffer("Messages" -> StructType(fields.init.map(f =>
        if (f.name == seqno.name) seqno else f.copy(nullable = f.nullable || src.messagesNullable))))
      def table(name: String, fields: Seq[StructField]): Int = {
        tables += name -> StructType(fields); tables.size - 1
      }
      // per variant its optional `<table>_blobs` side table (seqno, data)
      // and its table: seqno + the flattened payload + the tail [+ data]
      val variantTables = src.variants.zip(names).map { case (v, name) =>
        val side = blobThreshold.fold(-1)(_ => table(s"${name}_blobs",
          Seq(seqno, StructField("data", BinaryType, nullable = false))))
        val blob =
          if (!keepRawBlob) Nil
          else if (blobThreshold.isEmpty) Seq(StructField("data", BinaryType, nullable = false))
          else Seq(StructField("data", BinaryType, nullable = true),
            StructField("data_externalized", BooleanType, nullable = false))
        (table(name, (seqno.copy(nullable = src.typedSeqnoNullable) +: v.payload) ++
          src.tail.map(field) ++ blob), side)
      }
      val rawTable =
        if (!src.routeOf.values.exists(_.values.exists(_ < 0))) -1
        else table("RawMessages", (seqno +: src.raw.map(field) :+ field("data"))
          .map(_.copy(nullable = true)))
      val plan = Plan(frame.schema, src.decoders.map { case (v, decoder) =>
        val (main, side) = variantTables(v)
        TypedRoute(decoder, v, src.variants(v).payload.map(_.dataType).toArray, main, side,
          tables(main)._2.size)
      }, src.routeOf, src.key, src.tail.map(frame.schema.fieldIndex).toArray,
        rawTable, (seqno.name +: src.raw :+ "data").map(frame.schema.fieldIndex).toArray,
        blobThreshold.getOrElse(Int.MaxValue), src.variants.size)
      // DDL describes tables, not rows: appends to an existing table
      // must not re-emit its CREATE statement
      val ddl = tables.tail.filterNot(t => append && exists(s"$out/${t._1}.parquet"))
        .map { case (name, schema) => VerticaDdl.createTable(name, schema) + "\n" }.mkString

      // ONE Spark job reads the files once and routes each message to
      // Messages and to its type's table; all tables commit together
      val sums = inEtlJobGroup(spark, s"${tables.size} tables") {
        RoutedTableWrite.run(spark, frame.queryExecution.toRdd,
          tables.toSeq.map { case (n, sc) => RoutedTableWrite.Table(s"$out/$n.parquet", sc) },
          s"$out/_temporary", append)((rows, emit) => routeRows(rows, emit, plan))
      }
      // the dimension is driver-side tiny, written without a Spark job,
      // and LAST: it is the increment's commit record. A crash before it
      // leaves the work unrecorded, and the next increment's repair
      // purges the dead attempt's rows before redoing those files.
      val dim = src.dimension
      val toRow = CatalystTypeConverters.createToCatalystConverter(dim.schema)
      RoutedTableWrite.runLocal(spark, dim.rows.map(toRow(_).asInstanceOf[InternalRow]),
        RoutedTableWrite.Table(s"$out/${dim.name}.parquet", dim.schema), s"$out/_temporary", append)
      (sums, ddl)
    } finally {
      // drop the scratch dirs even on failure (file:// and remote)
      Seq(seqnoDir, stageDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).delete(p, true)
      }
    }

    BagEtl.writeDdlFile(out, ddl, append)
    BagEtl.writeManifest(out, naming ++
      src.variants.zip(names).map { case (v, name) => (v.name, v.md5) -> name })
    // commit-record protocol, step 2: the dimension landed, so the
    // increment is committed. (A crash before this line resolves via
    // inflight ⊆ done: repair recovers the max from Messages' footers.)
    BagEtl.writeCommitRecord(out, sums.map(_.last).foldLeft(seqnoOffset - 1)(math.max), Nil)
    Result(sums.map(_.count).sum, sums.map(_.bytes).sum, sums.map(_.crcXor).foldLeft(0L)(_ ^ _),
      src.dimension.rows.size.toLong,
      names.zipWithIndex.map { case (n, v) => n -> sums.map(_.rows(v)).sum }.toMap)
  }

  private def exists(path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).exists(p)
  }

  /** Run `body` in a fresh `graft-etl-*` job group, so the UI and
    * traces show its jobs as the ETL's; the caller's group is restored.
    */
  private def inEtlJobGroup[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val keys = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
    val prior = keys.map(sc.getLocalProperty)
    sc.setJobGroup(s"graft-etl-${java.util.UUID.randomUUID()}", desc, interruptOnCancel = true)
    try body finally keys.zip(prior).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

  /** A route: its decoder, its variant, payload column types, table
    * indexes (`side` < 0: no blob side table) and table width.
    */
  private final case class TypedRoute(decoder: PayloadDecoder, variant: Int,
      payload: Array[DataType], table: Int, side: Int, width: Int)

  /** What the data job's tasks need: the frame's schema, the routes,
    * the frame ordinals of the typed tables' tail and of RawMessages'
    * columns, and the blob threshold (Int.MaxValue: none).
    */
  private final case class Plan(frame: StructType, routes: IndexedSeq[TypedRoute],
      routeOf: Map[String, Map[Long, Int]], key: (String, String), tail: Array[Int],
      rawTable: Int, raw: Array[Int], blobThreshold: Int, variants: Int)

  /** One task's share of `info`, of the commit record's max and of each
    * variant table's rows.
    */
  private final case class TaskSums(count: Long, bytes: Long, crcXor: Long, last: Long,
      rows: Array[Long])

  /** One task of the data job: every row of the frame (seqno, Messages
    * columns, data) goes to Messages. A routed row's payload is decoded
    * once with its route's decoder and lands in its variant's table; an
    * unrouted one lands in RawMessages. With a blob threshold, blobs
    * above it move to the side table and the main row keeps a null
    * `data` and `data_externalized = true` (MultimodalOps.externalizeBlobs'
    * cutoff and layout).
    */
  private def routeRows(rows: Iterator[InternalRow], emit: (Int, InternalRow) => Unit,
      p: Plan): TaskSums = {
    def project(ords: Seq[Int]) = UnsafeProjection.create(ords.map(i =>
      BoundReference(i, p.frame(i).dataType, p.frame(i).nullable)))
    val toMessages = project(0 until p.frame.size - 1)
    val toRaw = if (p.rawTable < 0) null else project(p.raw.toSeq)
    val Seq(sizeOrd, crcOrd, pathOrd, idOrd) =
      Seq("size", "data_crc32", p.key._1, p.key._2).map(p.frame.fieldIndex)
    val longId = p.frame(idOrd).dataType == LongType
    val dataOrd = p.frame.size - 1
    val tail = p.tail
    val tailTypes = tail.map(p.frame(_).dataType)
    val perVariant = new Array[Long](p.variants)
    var path: UTF8String = null
    var ids = Map.empty[Long, Int]
    var count = 0L; var bytes = 0L; var crc = 0L; var last = Long.MinValue
    rows.foreach { r =>
      emit(0, toMessages(r))
      val seqno = r.getLong(0)
      count += 1; bytes += r.getInt(sizeOrd); crc ^= r.getLong(crcOrd)
      last = math.max(last, seqno)
      if (!r.getUTF8String(pathOrd).equals(path)) {
        path = r.getUTF8String(pathOrd).clone()
        ids = p.routeOf(path.toString)
      }
      val g = ids(if (longId) r.getLong(idOrd) else r.getInt(idOrd).toLong)
      if (g < 0) { if (toRaw != null) emit(p.rawTable, toRaw(r)) }
      else {
        val route = p.routes(g)
        val data = r.getBinary(dataOrd)
        val vals = route.decoder.decode(data).iterator
        val k = route.payload.length
        val big = data.length > p.blobThreshold
        val row = new Array[Any](route.width)
        row(0) = seqno
        var i = 0
        while (i < k) { row(i + 1) = RosbagTypedRead.toCatalyst(vals.next(), route.payload(i)); i += 1 }
        var j = 0
        while (j < tail.length) { row(k + 1 + j) = r.get(tail(j), tailTypes(j)); j += 1 }
        val b = k + 1 + tail.length
        if (route.width > b) row(b) = if (big) null else data
        if (route.side >= 0) row(b + 1) = big
        if (big) emit(route.side, new GenericInternalRow(Array[Any](seqno, data)))
        emit(route.table, new GenericInternalRow(row))
        perVariant(route.variant) += 1
      }
    }
    TaskSums(count, bytes, crc, last, perVariant)
  }
}
