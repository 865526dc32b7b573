package graft.ros.etl

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Seqno

/** The per-table form the single-job ETL replaced, kept as the
  * reference its output must match table for table: Messages from the
  * numbered meta-only scan, each (datatype, md5) variant's table from
  * its own typed `rosbag` scan (the route-by-type as predicate
  * pushdown), one DataFrame write per table, `Info` from the Messages
  * write's observed metrics. Loads the chunk index cannot number
  * stage the spine, number it with `Seqno.globalSeqno` and join a
  * seqno map to every table. The writes run one after another here;
  * the files they leave are the same.
  */
object BagEtlReference {
  /** `BagEtl.run` on a fresh `out` (no versioned-dir redirect). */
  def run(spark: SparkSession, bagPath: String, out: String,
      maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
      blobSideTable: Boolean = false, blobThreshold: Int = 1 << 20,
      nativeTimestamp: Boolean = false): BagEtl.Info =
    runBags(spark, graft.ros.bag.RosbagDataSource.files(bagPath),
      new java.io.File(bagPath).getName, out, maxMessages, keepRawBlob,
      blobSideTable, blobThreshold, nativeTimestamp)

  /** The conversion core: `seqnoOffset`, `naming` and `append` as an
    * incremental append passes them (next seqno, the `_tables.json`
    * manifest, appending writes).
    */
  def runBags(spark: SparkSession, bags: Seq[String], bagName: String,
      out: String, maxMessages: Option[Long] = None, keepRawBlob: Boolean = true,
      blobSideTable: Boolean = false, blobThreshold: Int = 1 << 20,
      nativeTimestamp: Boolean = false, seqnoOffset: Long = 0L,
      naming: Map[(String, String), String] = Map.empty,
      append: Boolean = false): BagEtl.Info = {
    val indexes = graft.ros.bag.RosbagIO.scanIndexes(bags)
    val connections = graft.ros.bag.RosbagTables.fromIndexes(spark, indexes)
    val typeGroups: Seq[(String, String, String)] = {
      val all = indexes.flatMap(_._2.connections.map(c => (c.datatype, c.md5sum)))
      all.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (dt, rows) =>
        val base = dt.replace("/", "_")
        val byMd5 = rows.map(_._2).distinct.sorted
        byMd5.map { md5 =>
          val name = naming.getOrElse((dt, md5),
            if (naming.keys.exists(_._1 == dt)) s"${base}__${md5.take(8)}"
            else if (byMd5.size == 1) base
            else s"${base}__${md5.take(8)}")
          (dt, md5, name)
        }
      }
    }
    val indexed = graft.ros.bag.RosbagSeqno.cheapGroups(indexes).isRight
    def kept(seqno: Column): Column = maxMessages.fold(lit(true))(n => seqno < n)
    def numberedFrom(df: DataFrame, seqno: Column, cols: Seq[Column]): DataFrame =
      df.select(seqno.as("seqno") +: cols: _*).filter(kept(col("seqno")))
        .withColumn("seqno", col("seqno") + lit(seqnoOffset))
    val bagsOpt = graft.ros.ContainerSource.filesSpec(bags)
    def scan(typed: Option[(String, String)]): DataFrame = {
      val r = spark.read.format("rosbag").option("bags", bagsOpt)
      typed.fold(r)(t => r.option("datatype", t._1).option("md5", t._2)
        .option("includeRaw", keepRawBlob.toString)).load()
    }
    def numbered(df: DataFrame, cols: Seq[Column]): DataFrame =
      numberedFrom(df, df.metadataColumn(graft.ros.bag.RosbagSeqno.Column), cols)

    val metaCols = Seq(col("bag_path"), col("chunk_idx"), col("offset"), col("time_sec"),
      col("time_nsec"), col("size"), col("connection_id"),
      col("header_stamp_sec"), col("header_stamp_nsec"), col("data_crc32"))
    val identity = Seq("bag_path", "chunk_idx", "offset")
    val stageDir = s"$out/_spine_ref"
    val seqnoDir = s"$out/_seqno_ref"
    def stage(df: DataFrame, dir: String): Unit =
      df.write.mode(SaveMode.Overwrite).option("compression", "snappy").parquet(dir)
    def write(df: DataFrame, table: String): Unit =
      df.write.mode(if (append) SaveMode.Append else SaveMode.ErrorIfExists)
        .option("compression", "snappy").parquet(s"$out/$table.parquet")
    def isNew(table: String): Boolean = !append || {
      val p = new org.apache.hadoop.fs.Path(s"$out/$table.parquet")
      !p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).exists(p)
    }

    val info = org.apache.spark.sql.Observation(s"ref-info-${java.util.UUID.randomUUID()}")
    val ddl = new StringBuilder
    try {
      val spine: Option[DataFrame] = if (indexed) None else {
        stage(scan(None).select(metaCols: _*), stageDir)
        val s = Seqno.globalSeqno(spark.read.parquet(stageDir).select(metaCols: _*),
          Seq(col("time_sec"), col("time_nsec"), col("bag_path"), col("chunk_idx"), col("offset")))
        val numberedSpine = numberedFrom(s, col("seqno"), metaCols)
        stage(numberedSpine.select((col("seqno") +: identity.map(col)): _*), seqnoDir)
        Some(numberedSpine)
      }
      val msgCols = Seq(col("seqno"), col("bag_path"), col("time_sec"), col("time_nsec"),
        col("size"), col("connection_id"), col("header_stamp_sec"),
        col("header_stamp_nsec"), col("data_crc32"))
      val messages0 = spine.getOrElse(numbered(scan(None), metaCols)).select(msgCols: _*)
      val messages1 = if (nativeTimestamp)
        messages0.withColumn("time",
          expr("timestampadd(MICROSECOND, " +
            "cast(time_sec as bigint) * 1000000 + time_nsec div 1000, " +
            "TIMESTAMP_NTZ '1970-01-01 00:00:00')"))
      else messages0
      val messages = messages1.observe(info, count(lit(1)).as("n"),
        coalesce(sum(col("size").cast("long")), lit(0L)).as("bytes"),
        coalesce(expr("bit_xor(data_crc32)"), lit(0L)).as("crc"))

      typeGroups.foreach { case (datatype, md5, tableName) =>
        val typed = scan(Some((datatype, md5)))
        val payload = typed.columns.filterNot(Set(
          "bag_path", "chunk_idx", "offset", "time_sec", "time_nsec",
          "connection_id", "data")).map(col).toSeq
        val frame = payload :+ col("connection_id") :+ col("bag_path")
        val cols = if (keepRawBlob) frame :+ col("data") else frame
        val joined =
          if (indexed) numbered(typed, cols)
          else typed.join(spark.read.parquet(seqnoDir), identity).select(col("seqno") +: cols: _*)
        val df =
          if (blobSideTable) {
            val (slim, side) = graft.multimodal.MultimodalOps
              .externalizeBlobs(joined, "data", "seqno", blobThreshold)
            val sideNew = isNew(s"${tableName}_blobs")
            write(side, s"${tableName}_blobs")
            if (sideNew)
              ddl ++= VerticaDdl.createTable(tableName + "_blobs", side.schema) ++= "\n"
            slim
          } else joined
        val tableNew = isNew(tableName)
        write(df, tableName)
        if (tableNew) ddl ++= VerticaDdl.createTable(tableName, df.schema) ++= "\n"
      }
      write(messages, "Messages")
      write(connections, "Connections")
    } finally {
      Seq(seqnoDir, stageDir).foreach { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(graft.ros.bag.RosbagIO.hadoopConf()).delete(p, true)
      }
    }
    BagEtl.writeDdlFile(out, ddl.toString, append)
    BagEtl.writeManifest(out, naming ++ typeGroups.map { case (dt, md5, n) => (dt, md5) -> n })
    val r = info.get
    BagEtl.Info(bagName, r("n").asInstanceOf[Long], r("bytes").asInstanceOf[Long],
      r("crc").asInstanceOf[Long])
  }
}
