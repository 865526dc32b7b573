package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** One timed call into the program, with whether its output checked out. */
final case class Op(name: String, seconds: Double, ok: Boolean)

/** One pass of a workload: its operations, the MB of input they
  * processed, and named per-layer facts (traced runs only read them).
  */
final case class Iteration(ops: Seq[Op], mb: Double, facts: Map[String, Double])

trait Workload {
  /** Write the seeded inputs; returns a digest of every input byte. */
  def generate(): String
  def iteration(): Iteration
  /** Whether set-up runs one untimed pass before measuring. */
  def warmPass: Boolean = true
}

object Workloads {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Bytes this process has passed through read(2) so far (Linux). */
  def rchar(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/io").getLines()
        .find(_.startsWith("rchar:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case _: Exception => 0L }

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `f` as one operation: a throw counts as a failed operation, and
    * the check runs outside the timed window.
    */
  def op[T](name: String, tr: Tracer, layer: String)(f: => T)(check: T => Boolean): (Op, Option[T]) =
    try {
      val (r, s) = timed(tr.span(name, layer)(f))
      val ok = try tr.span("check", "bench")(check(r)) catch {
        case e: Exception => System.err.println(s"[perfbench] $name check failed: $e"); false
      }
      if (!ok) System.err.println(s"[perfbench] $name: wrong result")
      (Op(name, s, ok), Some(r))
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $name failed: $e")
        (Op(name, 0.0, ok = false), None)
    }
}

import Workloads._

/** `BagEtl.run` with default options on one seeded lz4-chunked ROS1 bag:
  * the reference's own pipeline, loading the bag decoder, Seqno, the
  * per-type routing and the Parquet write, with almost no query work.
  */
final class EtlRosbag(spark: SparkSession, tr: Tracer, work: Path, seed: Long,
    bagBytes: Long) extends Workload {
  private var bag: Fixtures.EtlBag = _
  private val out = work.resolve("etl_out")

  def generate(): String = {
    Files.createDirectories(work)
    bag = Fixtures.etlBag(work, seed, bagBytes)
    Fixtures.sha256(bag.path)
  }

  private def tableRows(datatype: String): Long =
    spark.read.parquet(out.resolve(datatype.replace("/", "_") + ".parquet").toString).count()

  def iteration(): Iteration = {
    deleteTree(out)
    val idx = if (tr.enabled) {
      val (_, s) = timed(tr.span("bag.scanIndexes", "graft.ros.bag")(
        graft.ros.bag.RosbagIO.scanIndexes(Seq(bag.path.toString))))
      Map("bag.index_s" -> s)
    } else Map.empty[String, Double]
    // bytes read are sampled around BagEtl.run alone, not its check
    val (etl, res) = op("etl.run", tr, "graft.ros.etl") {
      val r0 = rchar()
      val i = graft.ros.etl.BagEtl.run(spark, bag.path.toString, out.toString)
      (i, rchar() - r0)
    } { case (i, _) =>
      val seq = spark.read.parquet(out.resolve("Messages.parquet").toString)
        .agg(count(lit(1)), min("seqno"), max("seqno"), countDistinct("seqno")).head()
      i.count == bag.count && i.sizeBytes == bag.sizeBytes && i.crcXor == bag.crcXor &&
        seq.getLong(0) == bag.count && seq.getLong(1) == 0L &&
        seq.getLong(2) == bag.count - 1 && seq.getLong(3) == bag.count &&
        bag.perType.forall { case (dt, n) => tableRows(dt) == n }
    }
    val outMb = dirBytes(out) / 1e6
    deleteTree(out)
    val mb = bag.fileBytes / 1e6
    Iteration(Seq(etl), mb, idx ++ Map(
      "etl.out_mb" -> outMb, "etl.out_ratio" -> outMb / mb,
      "bag.read_amplification" -> res.map(_._2 / 1e6 / mb).getOrElse(0.0)))
  }
}

/** The same seeded message set in rosbag, MCAP and db3; each pass runs
  * four read queries per format and re-exports every container through
  * the next format's sink (rosbag -> mcap -> db3 -> rosbag).
  */
final class ContainerRw(spark: SparkSession, tr: Tracer, work: Path, seed: Long,
    containerBytes: Long) extends Workload {
  private var set: Fixtures.ContainerSet = _
  private val formats = Seq("rosbag", "mcap", "db3")
  private def layer(fmt: String) = if (fmt == "rosbag") "graft.ros.bag" else s"graft.ros.$fmt"
  private def path(fmt: String) = set.paths(fmt).toString
  private def mb(fmt: String) = Files.size(set.paths(fmt)) / 1e6

  def generate(): String = {
    Files.createDirectories(work)
    set = Fixtures.containers(work, seed, containerBytes)
    formats.map(f => Fixtures.sha256(set.paths(f))).mkString("-")
  }

  private def timeNs(fmt: String): org.apache.spark.sql.Column = fmt match {
    case "rosbag" => col("time_sec").cast("long") * 1000000000L + col("time_nsec")
    case "mcap" => col("log_time")
    case _ => col("timestamp")
  }
  /** [lo, hi) seconds on the format's own time column, so the source
    * can prune with it.
    */
  private def inRange(fmt: String, lo: Long, hi: Long): org.apache.spark.sql.Column = fmt match {
    case "rosbag" => col("time_sec") >= lo && col("time_sec") < hi
    case f => timeNs(f) >= lo * 1000000000L && timeNs(f) < hi * 1000000000L
  }

  private def raw(fmt: String, p: String): DataFrame = spark.read.format(fmt).load(p)

  private def typed(fmt: String, blob: Boolean): DataFrame = fmt match {
    case "rosbag" => spark.read.format("rosbag")
      .option("datatype", if (blob) Fixtures.BlobType1 else Fixtures.ReadingType1).load(path(fmt))
    case f => spark.read.format(f)
      .option("schema_name", if (blob) Fixtures.BlobType2 else Fixtures.ReadingType2).load(path(f))
  }

  private def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))

  private def reads(fmt: String): Seq[(Op, Long)] = {
    val l = layer(fmt)
    def q(name: String)(f: => Array[Row])(check: Array[Row] => Boolean): (Op, Long) = {
      val (o, r) = op(s"read:$fmt:$name", tr, l) {
        val r0 = rchar(); val rows = f
        (rows, rchar() - r0)
      }(r => check(r._1))
      (o, r.map(_._2).getOrElse(0L))
    }
    val info = q("info")(raw(fmt, path(fmt))
      .groupBy("topic").agg(count(lit(1)), min(timeNs(fmt)), max(timeNs(fmt)),
        sum(col("size").cast("long"))).collect()) { rows =>
      val exp = set.info(fmt)
      rows.length == exp.size && rows.forall { r =>
        exp.get(r.getString(0)).contains(
          Fixtures.TopicStat(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      }
    }
    val range = q("range")(typed(fmt, blob = false)
      .filter(inRange(fmt, set.rangeLoSec, set.rangeHiSec))
      .agg(count(lit(1)), coalesce(sum("seq"), lit(0L))).collect()) { r =>
      r.head.getLong(0) == set.rangeCount && r.head.getLong(1) == set.rangeSeqSum
    }
    val agg = q("reading_agg")(typed(fmt, blob = false)
      .agg(count(lit(1)), sum("seq"), sum("x")).collect()) { r =>
      r.head.getLong(0) == set.readings && r.head.getLong(1) == set.readingSeqSum &&
        close(r.head.getDouble(2), set.readingXSum)
    }
    val blob = q("blob_full")(typed(fmt, blob = true)
      .agg(count(lit(1)), sum(length(col("data_field")).cast("long")),
        expr("bit_xor(crc32(data_field))")).collect()) { r =>
      r.head.getLong(0) == set.blobs && r.head.getLong(1) == set.blobBytes &&
        r.head.getLong(2) == set.blobCrcXor
    }
    Seq(info, range, agg, blob)
  }

  private def export(src: String, dst: String): (Op, Double) = {
    val out = work.resolve(s"export_$dst")
    deleteTree(out)
    val df = raw(src, path(src))
    val prepared = (src, dst) match {
      case (_, "mcap") => graft.ros.mcap.McapExport.prepare(df, col("topic"), timeNs(src),
        col("data"), schemaName = col("datatype"))
      case (_, "db3") => graft.ros.db3.Db3Export.prepare(df, col("topic"), timeNs(src),
        col("data"), tpe = col("schema_name"))
      case _ => graft.ros.bag.BagExport.prepare(df, col("topic"), timeNs(src),
        col("data"), datatype = col("type"))
    }
    val (o, _) = op(s"export:$src>$dst", tr, layer(dst))(
      prepared.write.format(dst).mode("append").save(out.toString)) { _ =>
      val back = raw(dst, out.toString).groupBy("topic")
        .agg(count(lit(1))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      back == set.info(src).map { case (t, s) => t -> s.count }
    }
    val written = dirBytes(out) / 1e6
    deleteTree(out)
    (o, written)
  }

  def iteration(): Iteration = {
    val readOps = formats.map(f => f -> reads(f)).toMap
    val exports = Seq("rosbag" -> "mcap", "mcap" -> "db3", "db3" -> "rosbag")
      .map { case (s, d) => d -> export(s, d) }
    val facts = formats.flatMap { f =>
      val rs = readOps(f)
      val full = rs.find(_._1.name.endsWith("reading_agg")).get
      val range = rs.find(_._1.name.endsWith(":range")).get
      val blob = rs.find(_._1.name.endsWith("blob_full")).get._1
      val (sink, sinkMb) = exports.find(_._1 == f).get._2
      val p = if (f == "rosbag") "bag" else f
      Seq(s"$p.scan_mb_s" -> mb(f) / blob.seconds,
        s"$p.sink_mb_s" -> sinkMb / sink.seconds,
        s"$p.range_read_ratio" -> range._2.toDouble / math.max(1L, full._2))
    }.toMap
    val ops = formats.flatMap(f => readOps(f).map(_._1)) ++ exports.map(_._2._1)
    val inMb = formats.map(f => 4 * mb(f)).sum + exports.map(_._2._2).sum
    Iteration(ops, inMb, facts)
  }
}

/** LLM-data queries over the bundled corpus (the sf0.1 `documents` and
  * `embeddings` tables): almost all work sits in the operators, the
  * graftfns expressions and the derivation builds.
  *
  * Each pass drops the shared derivations, rebuilds them cold with
  * `warmShared` and runs the queries once in a seed-permuted order. The
  * measured pass is the process's first, as for a batch user who runs
  * the pipeline once per process, so it pays code generation and JIT
  * too. The queries are a fixed subset, one or two per operator family:
  * in a fresh JVM the derivations alone take ~35 s on 4 cores, and all
  * 47 queries ~90 s, more than the run budget allows.
  */
final class LlmCorpus(spark: SparkSession, tr: Tracer, work: Path, seed: Long,
    corpus: Path, digests: Map[String, String], queries: Seq[String]) extends Workload {
  private val d = corpus.toAbsolutePath.toString
  private val modelDir = work.resolve("models")
  private val rng = new scala.util.Random(seed)
  private lazy val docs = spark.read.parquet(s"$d/documents.parquet").count()
  private lazy val vecs = spark.read.parquet(s"$d/embeddings.parquet").count()

  // A traced run still warms up first, so that its untraced and traced
  // halves compare like with like.
  override def warmPass: Boolean = false

  def generate(): String = {
    Files.createDirectories(work)
    sys.props("graft.model.dir") = modelDir.toString
    val files = Seq("documents.parquet", "embeddings.parquet").map(corpus.resolve)
    (seed.toString +: files.map(Fixtures.sha256)).mkString("-")
  }

  private def corpusMb: Double =
    Seq("documents.parquet", "embeddings.parquet").map(f => Files.size(corpus.resolve(f))).sum / 1e6

  def iteration(): Iteration = {
    // Cold derivations: LlmQueries memoizes per (session, dir), and
    // invalidateCaches() does not reach every memo (the LSH/IVF/PQ index
    // frames and the BPE models survive it), so each pass also runs on a
    // fresh session over the same SparkContext, whose keys miss them all.
    graft.queries.LlmQueries.invalidateCaches()
    spark.catalog.clearCache()
    deleteTree(modelDir)
    val s = spark.newSession()
    val (derived, deriveS) = timed(tr.span("queries.derive", "graft.queries")(
      graft.queries.LlmQueries.warmShared(s, d)))
    val deriveOp = Op("queries.derive", deriveS, derived.forall(_._2 >= 0))
    val cachedMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
    val perQuery = rng.shuffle(queries.sorted).map { name =>
      val fn = graft.queries.LlmQueries.all(name)
      try {
        val (df, b) = timed(tr.span(s"queries.build:$name", "graft.queries")(fn(s, d)))
        val (rows, e) = timed(tr.span(s"queries.exec:$name", "graft.queries")(df.collect()))
        val got = Digest.of(rows)
        val ok = digests.get(name).contains(got)
        if (!ok) System.err.println(s"[perfbench] $name: result digest $got " +
          s"!= validated ${digests.getOrElse(name, "(none)")}")
        (Op(name, b + e, ok), b, e)
      } catch {
        case ex: Exception =>
          System.err.println(s"[perfbench] $name failed: $ex")
          (Op(name, 0.0, ok = false), 0.0, 0.0)
      }
    }
    val facts = derived.map { case (n, t) => s"queries.derive.${n}_s" -> t }.toMap ++ Map(
      "queries.derive_s" -> deriveS,
      "queries.build_s" -> perQuery.map(_._2).sum,
      "queries.exec_s" -> perQuery.map(_._3).sum,
      "queries.cached_mb" -> cachedMb,
      "fns.tokenize_rows_s" -> derived.find(_._1 == "docToks").filter(_._2 > 0)
        .map(docs / _._2).getOrElse(0.0),
      "fns.dot_rows_s" -> perQuery.find(_._1.name == "q25_cosine_topk")
        .filter(_._3 > 0).map(vecs / _._3).getOrElse(0.0))
    Iteration(deriveOp +: perQuery.map(_._1), corpusMb, facts)
  }
}

/** Order-insensitive digest of a collected result: each row rendered
  * canonically (bytes as hex, nested rows and arrays recursively),
  * sorted, then SHA-256.
  */
object Digest {
  def canon(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("0x", "", "")
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  def of(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach { s => md.update(s.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map("%02x".format(_)).mkString
  }
}
