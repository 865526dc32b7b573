package graft.ros.mcap

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Seqno
import graft.ros.etl.{BagEtl, VerticaDdl}

/** The per-variant form McapEtl's single-job conversion replaced, kept
  * as the reference its output must match table for table: one scan
  * stages the meta spine plus the unrouted channels' payloads, the
  * Seqno operator numbers the staged spine, each (name, md5) variant's
  * table is its own typed `mcap` scan joined to the seqno map,
  * RawMessages comes from the staged payloads, one DataFrame write per
  * table, and `Info` from re-reads of the written tables. The writes
  * run one after another here; the files they leave are the same.
  */
object McapEtlReference {
  /** `McapEtl.run` on a fresh `out` (no versioned-dir redirect). */
  def run(spark: SparkSession, path: String, out: String, keepRawBlob: Boolean = true,
      nativeTimestamp: Boolean = false): McapEtl.Info =
    runFiles(spark, McapDataSource.files(path), new java.io.File(path).getName, out,
      keepRawBlob, nativeTimestamp)

  private val metaColNames = Seq("file_path", "chunk_idx", "offset", "log_time",
    "publish_time", "sequence", "size", "channel_id", "topic", "schema_name",
    "schema_encoding", "message_encoding", "data_crc32")

  /** The conversion core: `seqnoOffset`, `naming` and `append` as an
    * incremental append passes them.
    */
  def runFiles(spark: SparkSession, files: Seq[String], name: String, out: String,
      keepRawBlob: Boolean = true, nativeTimestamp: Boolean = false,
      seqnoOffset: Long = 0L, naming: Map[(String, String), String] = Map.empty,
      append: Boolean = false): McapEtl.Info = {
    val channels = McapTables.channels(spark, graft.ros.ContainerSource.filesSpec(files))
    val typedSchemas = files.flatMap(f => McapIO.scanIndex(f).schemas.values
      .filter(s => McapPayload.typedEncodings(s.encoding))
      .map(s => (s.name, McapTypedRead.md5hex(s.data), (s.encoding, s.data), f)))
    val flattenable: Set[String] = typedSchemas.groupBy(_._1).collect {
      case (nm, rows) if rows.forall { case (_, _, (enc, data), _) =>
        scala.util.Try(graft.ros.RosSchemaMapper.flatSchema(
          McapPayload.bundle(enc, nm, data))).isSuccess } => nm
    }.toSet
    val routed = (c: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =>
      if (flattenable.isEmpty) lit(false)
      else c.isin(McapPayload.typedEncodings.toSeq: _*) && n.isin(flattenable.toSeq: _*)
    val variants: Seq[(String, String, Seq[String], String)] = {
      val byName = typedSchemas.filter(t => flattenable(t._1)).groupBy(_._1)
      byName.toSeq.sortBy(_._1).flatMap { case (nm, rows) =>
        val base = McapEtl.tableName(nm)
        val byMd5 = rows.groupBy(_._2).toSeq.sortBy(_._1)
        byMd5.map { case (md5, vs) =>
          val table = naming.getOrElse((nm, md5),
            if (naming.keys.exists(_._1 == nm)) s"${base}__${md5.take(8)}"
            else if (byMd5.size == 1) base
            else s"${base}__${md5.take(8)}")
          (nm, md5, vs.map(_._4).distinct, table)
        }
      }
    }
    val raw = spark.read.format("mcap").option("files", graft.ros.ContainerSource.filesSpec(files)).load()
    val stageDir = s"$out/_spine_ref"
    val seqnoDir = s"$out/_seqno_ref"
    val metaCols = metaColNames.map(col)
    raw.select(metaCols :+ when(routed(col("schema_encoding"), col("schema_name")),
        lit(null).cast("binary")).otherwise(col("data")).as("data"): _*)
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(stageDir)
    val spine0 = Seqno.globalSeqno(spark.read.parquet(stageDir).select(metaCols: _*),
      Seq(col("log_time"), col("file_path"), col("chunk_idx"), col("offset")))
    val spine = if (seqnoOffset == 0L) spine0
      else spine0.withColumn("seqno", col("seqno") + lit(seqnoOffset))
    val messages0 = spine.select(col("seqno") +: metaCols: _*)
    val messages = if (nativeTimestamp)
      messages0.withColumn("log_time_ts", expr("timestampadd(MICROSECOND, log_time div 1000, " +
        "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
    else messages0
    val writeMode = if (append) SaveMode.Append else SaveMode.ErrorIfExists
    def isNew(table: String): Boolean = !append || {
      val p = new org.apache.hadoop.fs.Path(s"$out/$table.parquet")
      !p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).exists(p)
    }
    spine.select(col("file_path"), col("chunk_idx"), col("offset"), col("seqno"))
      .write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(seqnoDir)
    val seqnoMap = spark.read.parquet(seqnoDir)
    val metaInTyped = Set("file_path", "chunk_idx", "offset", "log_time",
      "publish_time", "sequence", "channel_id", "topic", "data")
    val ddl = new StringBuilder
    try {
      variants.foreach { case (nm, md5, vFiles, table) =>
        val typed = spark.read.format("mcap")
          .option("files", graft.ros.ContainerSource.filesSpec(vFiles))
          .option("schema_name", nm).option("schema_md5", md5)
          .option("includeRaw", keepRawBlob.toString).load()
        val payload = typed.columns.filterNot(metaInTyped)
        val frame = col("seqno") +: payload.map(col).toSeq :+ col("channel_id") :+ col("file_path")
        val df = typed.join(seqnoMap, Seq("file_path", "chunk_idx", "offset"))
          .select((if (keepRawBlob) frame :+ col("data") else frame): _*)
        val tableNew = isNew(table)
        df.write.mode(writeMode).option("compression", "snappy").parquet(s"$out/$table.parquet")
        if (tableNew) ddl ++= VerticaDdl.createTable(table, df.schema) ++= "\n"
      }
      val hasUnrouted = files.exists { f =>
        val idx = McapIO.scanIndex(f)
        idx.channels.values.exists(c => !idx.schemas.get(c.schemaId).exists(sc =>
          McapPayload.typedEncodings(sc.encoding) && flattenable(sc.name)))
      }
      if (hasUnrouted) {
        val rawTab = spark.read.parquet(stageDir)
          .filter(!routed(col("schema_encoding"), col("schema_name")))
          .join(seqnoMap, Seq("file_path", "chunk_idx", "offset"))
          .select(col("seqno"), col("channel_id"), col("topic"), col("schema_name"),
            col("schema_encoding"), col("message_encoding"), col("file_path"), col("data"))
        val rawNew = isNew("RawMessages")
        rawTab.write.mode(writeMode).option("compression", "snappy")
          .parquet(s"$out/RawMessages.parquet")
        if (rawNew) ddl ++= VerticaDdl.createTable("RawMessages", rawTab.schema) ++= "\n"
      }
      messages.write.mode(writeMode).option("compression", "snappy")
        .parquet(s"$out/Messages.parquet")
      channels.write.mode(writeMode).option("compression", "snappy")
        .parquet(s"$out/Channels.parquet")
    } finally {
      Seq(seqnoDir, stageDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).delete(p, true)
      }
    }
    BagEtl.writeDdlFile(out, ddl.toString, append)
    BagEtl.writeManifest(out, naming ++ variants.map { case (nm, md5, _, t) => (nm, md5) -> t })
    val msgs0 = spark.read.parquet(s"$out/Messages.parquet")
    val msgs = if (append) msgs0.filter(col("file_path").isin(files: _*)) else msgs0
    val infoRow = msgs.agg(count(lit(1)), coalesce(sum(col("size").cast("long")), lit(0L)),
      coalesce(expr("bit_xor(data_crc32)"), lit(0L))).head()
    val tables = variants.map { case (_, _, _, table) =>
      val t = spark.read.parquet(s"$out/$table.parquet")
      table -> (if (append) t.filter(col("file_path").isin(files: _*)) else t).count()
    }.toMap
    McapEtl.Info(name, infoRow.getLong(0), channels.count(), infoRow.getLong(1),
      infoRow.getLong(2), tables)
  }
}
