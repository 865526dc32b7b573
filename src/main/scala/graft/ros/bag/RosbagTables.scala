package graft.ros.bag

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Companion metadata reads for the `rosbag` source: the Connections
  * dimension as a DataFrame (reference Connections table,
  * FlattenedRosWriter.cpp:90-137) — tiny, built driver-side from the
  * bag index, intended as the broadcast side of joins (O11).
  */
object RosbagTables {
  val ConnectionsSchema: StructType = StructType(Seq(
    // connection ids are per-bag (the bag container assigns them
    // densely from 0): (bag_path, connection_id) is the dimension key
    // in a multi-bag dataset
    StructField("bag_path", StringType, nullable = false),
    StructField("connection_id", IntegerType, nullable = false),
    StructField("topic", StringType, nullable = false),
    StructField("datatype", StringType, nullable = false),
    StructField("md5sum", StringType, nullable = false),
    StructField("msg_def", StringType, nullable = false),
    StructField("callerid", StringType, nullable = false),
    // full raw connection header as a string map (reference
    // FlattenedRosWriter.cpp:218-220's header->find model):
    // element_at(header, 'latching') etc.
    StructField("header", MapType(StringType, StringType, valueContainsNull = false),
      nullable = false)))

  /** Connections across every bag `path` denotes (file, directory, or
    * glob) — still driver-side tiny: dozens of connections per bag.
    */
  def connections(spark: SparkSession, path: String): DataFrame =
    fromIndexes(spark, RosbagIO.scanIndexes(RosbagDataSource.files(path)))

  /** One Connections frame from many already-scanned indexes — a
    * single driver-side row seq, not an N-way union of tiny frames.
    */
  def fromIndexes(spark: SparkSession,
                  indexes: Seq[(String, BagFormat.BagIndex)]): DataFrame = {
    val rows = indexes.flatMap { case (b, index) => indexRows(index, b) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), ConnectionsSchema)
  }

  /** Build from an already-scanned index (avoids a second file scan). */
  def fromIndex(spark: SparkSession, index: BagFormat.BagIndex, bagPath: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(indexRows(index, bagPath), 1), ConnectionsSchema)

  private[ros] def indexRows(index: BagFormat.BagIndex, bagPath: String): Seq[Row] =
    index.connections.map(c =>
      Row(bagPath, c.connId, c.topic, c.datatype, c.md5sum, c.msgDef, c.callerid, c.header))
}
