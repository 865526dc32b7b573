package graft.ros.etl

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{NumericType, StringType}
import graft.SparkTestBase

/** Table-for-table comparison of two ETL output dirs, for the specs
  * that hold an ETL to the per-table reference it replaced: the same
  * table directories, and in each the same schema — names, types,
  * nullability, and the schema and Spark row metadata in every part
  * file's footer — and the same rows; the same `_tables.json` manifest
  * and DDL file; no scratch dir left behind.
  */
trait EtlTableAsserts { self: SparkTestBase =>

  protected def tableDirs(out: String): Seq[String] =
    new java.io.File(out).listFiles.toSeq.map(_.getName).filter(_.endsWith(".parquet")).sorted

  protected def parts(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles.toSeq
      .filter(f => f.isFile && f.getName.startsWith("part-"))

  /** Per part file: the parquet schema and the footer's key-value
    * metadata (Spark's row schema with its nullability among them).
    */
  protected def footers(dir: String): Set[(String, Map[String, String])] =
    parts(dir).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString), graft.ros.bag.RosbagIO.hadoopConf()))
      try {
        val md = r.getFooter.getFileMetaData
        (md.getSchema.toString, md.getKeyValueMetaData.asScala.toMap)
      } finally r.close()
    }.toSet

  private def norm(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case x => x
  }

  /** A table's rows by seqno; a dimension's by its string and numeric
    * columns.
    */
  protected def rows(dir: String): Seq[Seq[Any]] = {
    val df = spark.read.parquet(dir)
    val key = if (df.columns.contains("seqno")) Seq("seqno")
      else df.schema.fields.filter(f => f.dataType == StringType ||
        f.dataType.isInstanceOf[NumericType]).map(_.name).toSeq
    df.orderBy(key.map(col): _*).collect().toSeq.map(r => r.toSeq.map(norm))
  }

  protected def text(out: String, f: String): String =
    new String(Files.readAllBytes(Paths.get(out, f)), java.nio.charset.StandardCharsets.UTF_8)

  /** Every table of `etl` equals its `ref` twin; footers are compared
    * with `footersOf`'s. BagEtl's reference declared different
    * nullability on its staged fallback than on its index path (seqno
    * OPTIONAL in the per-type tables, every column but seqno OPTIONAL
    * in Messages); BagEtl declares the index path's on both, so a
    * fallback output's footers are compared with the index path's.
    */
  protected def assertSameTables(etl: String, ref: String, footersOf: String = null): Unit = {
    assert(tableDirs(etl) == tableDirs(ref))
    assert(tableDirs(etl).contains("Messages.parquet"))
    tableDirs(etl).foreach { t =>
      val (a, b) = (s"$etl/$t", s"$ref/$t")
      assert(spark.read.parquet(a).schema == spark.read.parquet(b).schema, t)
      assert(footers(a) == footers(s"${Option(footersOf).getOrElse(ref)}/$t"), s"$t footers")
      assert(rows(a) == rows(b), s"$t rows")
      assert(Files.exists(Paths.get(a, "_SUCCESS")), s"$t _SUCCESS")
    }
    Seq("_tables.json", "vertica_load_tables.sql").foreach(f =>
      assert(text(etl, f) == text(ref, f), f))
    Seq("_temporary", "_spine", "_seqno", "_stage").foreach(d =>
      assert(!Files.exists(Paths.get(etl, d)), s"$d left behind"))
  }
}
