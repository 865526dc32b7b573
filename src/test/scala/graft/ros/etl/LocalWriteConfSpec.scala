package graft.ros.etl

import java.nio.file.Files
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.SparkTestBase
import graft.io.LocalFs
import graft.ros.{MsgDefParser, RosSchemaMapper}
import graft.ros.bag.{BagFormat, RosbagIO}
import graft.ros.bag.BagFormat.{BagConnection, WriteMessage}

/** graft's own local writes resolve `file:` paths to [[LocalFs]]: the
  * routed table writer's confs and the shared `RosbagIO.hadoopConf()`
  * behind the ETL driver files and the container sinks. A user's
  * `fs.file.impl` always wins.
  */
class LocalWriteConfSpec extends SparkTestBase {

  private val file = new Path("file:/tmp/graft_local_write_conf")
  private def resolves(c: Configuration): Class[_] = file.getFileSystem(c).getClass

  /** The (driver fs, per-table writer confs) `RoutedTableWrite` builds. */
  private def tableWrite(s: SparkSession): (FileSystem, Seq[Configuration]) = {
    val out = Files.createTempDirectory("graft_lwc").toString
    val (fs, writers, _) = RoutedTableWrite.prepare(s,
      Seq(RoutedTableWrite.Table(s"$out/T.parquet", StructType(Seq(StructField("a", LongType))))),
      s"$out/_temporary", append = false)
    (fs, writers.map(_._2.value))
  }

  /** `c` after a Java serialization round trip, as a task receives it. */
  private def shipped(c: Configuration): Configuration = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(new org.apache.spark.util.SerializableConfiguration(c))
    out.close()
    new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[org.apache.spark.util.SerializableConfiguration].value
  }

  test("graft's confs put file: paths on LocalFs") {
    val (fs, confs) = tableWrite(spark)
    assert(fs.getClass == classOf[LocalFs])
    confs.foreach(c => assert(resolves(shipped(c)) == classOf[LocalFs]))
    assert(resolves(RosbagIO.hadoopConf()) == classOf[LocalFs])
    assert(resolves(new Configuration()) != classOf[LocalFs])
  }

  test("a user's fs.file.impl is left alone") {
    val user = classOf[LocalFileSystem].getName
    val conf = new Configuration(false)
    conf.set("fs.file.impl", user)
    assert(LocalFs.options(LocalFs.install(conf)) == Map("fs.file.impl" -> user))
    val s = spark.newSession()
    s.conf.set("fs.file.impl", user)
    SparkSession.setActiveSession(s)
    try {
      val (fs, confs) = tableWrite(s)
      assert(fs.getClass != classOf[LocalFs])
      (confs :+ RosbagIO.hadoopConf()).foreach { c =>
        assert(c.get("fs.file.impl") == user)
        assert(c.get("fs.file.impl.disable.cache") == null)
      }
      assert(resolves(RosbagIO.hadoopConf()) != classOf[LocalFs])
    } finally SparkSession.setActiveSession(spark)
  }

  test("a rosbag ETL and a rosbag export write every byte through LocalFs") {
    val strDef = "string data"
    val bundle = MsgDefParser.parse("std_msgs/String", strDef)
    val in = Files.createTempDirectory("graft_lwc_in")
    Files.write(in.resolve("a.bag"), BagFormat.writeBag(
      Seq(BagConnection(0, "/chat", "std_msgs/String", "992ce8a1687cec8c8bd883ec73ca41d1", strDef, "")),
      (0 until 20).map(i => WriteMessage(0, 1700000000 + i, 0, RosSchemaMapper.encode(bundle, Seq(s"m-$i")))),
      messagesPerChunk = 4))
    val out = Files.createTempDirectory("graft_lwc_out").toString
    // Hadoop keeps file system statistics per (scheme, class)
    def written(c: Class[_ <: FileSystem]): Long = FileSystem.getStatistics("file", c).getBytesWritten
    val before = (written(classOf[RawLocalFileSystem]), written(classOf[LocalFs.Raw]))
    BagEtl.run(spark, in.toString, s"$out/etl")
    spark.read.format("rosbag").load(in.toString).write.format("rosbag").mode("append")
      .save(s"$out/export")
    assert(written(classOf[RawLocalFileSystem]) == before._1)
    assert(written(classOf[LocalFs.Raw]) > before._2)
    assert(spark.read.parquet(s"$out/etl/Messages.parquet").count() == 20)
    assert(spark.read.format("rosbag").load(s"$out/export").count() == 20)
  }
}
