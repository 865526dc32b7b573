package graft.ros.db3

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Seqno
import graft.ros.etl.{BagEtl, VerticaDdl}

/** The per-variant form Db3Etl's single-job conversion replaced, kept
  * as the reference its output must match table for table: one walk of
  * the b-trees stages meta + payload partitioned by a type route, the
  * Seqno operator numbers the staged spine, each (type, md5) variant's
  * table decodes its staged partition joined to the seqno map,
  * RawMessages comes from the `__raw` partition, one DataFrame write
  * per table, and `Info` from re-reads of the written tables. The
  * writes run one after another here; the files they leave are the
  * same.
  */
object Db3EtlReference {
  /** `Db3Etl.run` on a fresh `out` (no versioned-dir redirect). */
  def run(spark: SparkSession, path: String, out: String, keepRawBlob: Boolean = true,
      nativeTimestamp: Boolean = false): Db3Etl.Info =
    runFiles(spark, Db3DataSource.files(path), new java.io.File(path).getName, out,
      keepRawBlob, nativeTimestamp)

  private val metaColNames = Seq("file_path", "msg_id", "topic_id", "topic",
    "type", "serialization_format", "timestamp", "size", "data_crc32")

  /** The conversion core: `seqnoOffset`, `naming` and `append` as an
    * incremental append passes them.
    */
  def runFiles(spark: SparkSession, files: Seq[String], name: String, out: String,
      keepRawBlob: Boolean = true, nativeTimestamp: Boolean = false,
      seqnoOffset: Long = 0L, naming: Map[(String, String), String] = Map.empty,
      append: Boolean = false): Db3Etl.Info = {
    val metas = Db3IO.scanMetas(files)
    val topicsDim = Db3Tables.topics(spark, graft.ros.ContainerSource.filesSpec(files))
    val allDefs = metas.flatMap { case (f, m) =>
      m.definitions.map { case (t, enc, text) => (t, enc, text, f) } }
    val flattenable: Set[String] = allDefs.groupBy(_._1).collect {
      case (t, rows) if rows.forall { case (_, enc, text, _) =>
        (enc == "ros2msg" || enc == "ros2idl") &&
          scala.util.Try(graft.ros.RosSchemaMapper.flatSchema(
            graft.ros.mcap.McapPayload.bundle(enc, t, text.getBytes("UTF-8")))).isSuccess } => t
    }.toSet
    val definedPairs: Set[String] = allDefs.collect {
      case (t, _, _, f) if flattenable(t) => s"$f\n$t" }.toSet
    val variants: Seq[(String, (String, String), Seq[String], String)] = {
      val usable = allDefs.filter(d => flattenable(d._1)).map { case (t, enc, text, f) =>
        (t, graft.ros.mcap.McapTypedRead.md5hex(text.getBytes("UTF-8")), (enc, text), f) }
      usable.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (t, rows) =>
        val base = Db3Etl.tableName(t)
        val byMd5 = rows.groupBy(_._2).toSeq.sortBy(_._1)
        byMd5.map { case (md5, vs) =>
          val table = naming.getOrElse((t, md5),
            if (naming.keys.exists(_._1 == t)) s"${base}__${md5.take(8)}"
            else if (byMd5.size == 1) base
            else s"${base}__${md5.take(8)}")
          (t, vs.head._3, vs.map(_._4).distinct, table)
        }
      }
    }
    val raw = spark.read.format("db3").option("files", graft.ros.ContainerSource.filesSpec(files)).load()
    val routed =
      if (definedPairs.isEmpty) lit(false)
      else concat_ws("\n", col("file_path"), col("type")).isin(definedPairs.toSeq: _*) &&
        col("serialization_format") === "cdr"
    val stageDir = s"$out/_stage_ref"
    raw.withColumn("data_crc32", crc32(col("data")))
      .select(metaColNames.map(col) :+ col("data") :+
        when(routed, col("type")).otherwise(lit("__raw")).as("_route"): _*)
      .write.mode(SaveMode.Overwrite).partitionBy("_route")
      .option("compression", "snappy").parquet(stageDir)
    val metaCols = metaColNames.map(col)
    val spine0 = Seqno.globalSeqno(spark.read.parquet(stageDir).select(metaCols: _*),
      Seq(col("timestamp"), col("file_path"), col("msg_id")))
    val spine = if (seqnoOffset == 0L) spine0
      else spine0.withColumn("seqno", col("seqno") + lit(seqnoOffset))
    val messages0 = spine.select(col("seqno") +: metaCols: _*)
    val messages = if (nativeTimestamp)
      messages0.withColumn("timestamp_ts", expr("timestampadd(MICROSECOND, timestamp div 1000, " +
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    else messages0
    val writeMode = if (append) SaveMode.Append else SaveMode.ErrorIfExists
    def isNew(table: String): Boolean = !append || {
      val p = new org.apache.hadoop.fs.Path(s"$out/$table.parquet")
      !p.getFileSystem(Db3IO.hadoopConf()).exists(p)
    }
    val seqnoDir = s"$out/_seqno_ref"
    spine.select(col("file_path"), col("msg_id"), col("seqno"))
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(seqnoDir)
    val seqnoMap = spark.read.parquet(seqnoDir)
    val ddl = new StringBuilder
    try {
      variants.foreach { case (t, (enc, text), vFiles, table) =>
        val part = spark.read.parquet(stageDir)
          .filter(col("_route") === t && col("file_path").isin(vFiles: _*))
          .join(seqnoMap, Seq("file_path", "msg_id"))
          .select(col("seqno"), col("msg_id"), col("timestamp"),
            col("topic_id"), col("file_path"), col("data"))
        val df = decodeRows(spark, part,
          graft.ros.mcap.McapPayload.bundle(enc, t, text.getBytes("UTF-8")), keepRawBlob)
        val tableNew = isNew(table)
        df.write.mode(writeMode).option("compression", "snappy").parquet(s"$out/$table.parquet")
        if (tableNew) ddl ++= VerticaDdl.createTable(table, df.schema) ++= "\n"
      }
      val hasUnrouted = metas.exists { case (f, m) =>
        m.topics.values.exists { case (_, t, fmt) => !(definedPairs(s"$f\n$t") && fmt == "cdr") }
      }
      if (hasUnrouted) {
        val rawTab = spark.read.parquet(stageDir)
          .filter(col("_route") === "__raw")
          .join(seqnoMap, Seq("file_path", "msg_id"))
          .select(col("seqno"), col("topic_id"), col("topic"), col("type"),
            col("serialization_format"), col("file_path"), col("data"))
        val rawNew = isNew("RawMessages")
        rawTab.write.mode(writeMode).option("compression", "snappy")
          .parquet(s"$out/RawMessages.parquet")
        if (rawNew) ddl ++= VerticaDdl.createTable("RawMessages", rawTab.schema) ++= "\n"
      }
      messages.write.mode(writeMode).option("compression", "snappy")
        .parquet(s"$out/Messages.parquet")
      topicsDim.write.mode(writeMode).option("compression", "snappy")
        .parquet(s"$out/Topics.parquet")
    } finally {
      Seq(seqnoDir, stageDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(Db3IO.hadoopConf()).delete(p, true)
      }
    }
    BagEtl.writeDdlFile(out, ddl.toString, append)
    BagEtl.writeManifest(out, naming ++ variants.map { case (t, (_, text), _, table) =>
      (t, graft.ros.mcap.McapTypedRead.md5hex(text.getBytes("UTF-8"))) -> table })
    val msgs0 = spark.read.parquet(s"$out/Messages.parquet")
    val msgs = if (append) msgs0.filter(col("file_path").isin(files: _*)) else msgs0
    val infoRow = msgs.agg(count(lit(1)), coalesce(sum(col("size").cast("long")), lit(0L)),
      coalesce(expr("bit_xor(data_crc32)"), lit(0L))).head()
    val tables = variants.map { case (_, _, _, table) =>
      val tdf = spark.read.parquet(s"$out/$table.parquet")
      table -> (if (append) tdf.filter(col("file_path").isin(files: _*)) else tdf).count()
    }.toMap
    Db3Etl.Info(name, infoRow.getLong(0), topicsDim.count(), infoRow.getLong(1),
      infoRow.getLong(2), tables)
  }

  /** Flattened per-variant rows from staged (seqno, msg_id, timestamp,
    * topic_id, file_path, data): seqno + payload columns + the four
    * meta columns (+ raw blob), through the typed read's reserved-name
    * rule.
    */
  private def decodeRows(spark: SparkSession, part: DataFrame,
      bundle: graft.ros.RosMsgBundle, keepRawBlob: Boolean): DataFrame = {
    import org.apache.spark.sql.types._
    val flat = graft.ros.RosSchemaMapper.flatSchema(bundle)
    val payload = flat.fields.map(f =>
      if (Db3TypedRead.reserved(f.name)) f.copy(name = f.name + "_field") else f)
    val base = StructField("seqno", LongType, nullable = false) +:
      (payload.toSeq :+
        StructField("msg_id", LongType, nullable = false) :+
        StructField("timestamp", LongType, nullable = false) :+
        StructField("topic_id", LongType, nullable = false) :+
        StructField("file_path", StringType, nullable = false))
    val outSchema = StructType(
      if (keepRawBlob) base :+ StructField("data", BinaryType, nullable = false) else base)
    val rows = part
      .select(col("seqno"), col("msg_id"), col("timestamp"), col("topic_id"),
        col("file_path"), col("data"))
      .rdd.map { r =>
        val bytes = r.getAs[Array[Byte]](5)
        val vals = graft.ros.mcap.CdrCodec.decode(bundle, bytes)
        val tail = Seq[Any](r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)) ++
          (if (keepRawBlob) Seq(bytes) else Nil)
        Row.fromSeq(r.getLong(0) +: (vals ++ tail))
      }
    spark.createDataFrame(rows, outSchema)
  }
}
