package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.{CentroidBooks, NearestCentroid}
import org.apache.spark.sql.types._
import graft.SparkTestBase
import graft.queries.Tables

/** The fused nearest-centroid kernel (serving expression and typed
  * Lloyd trainer) against the Column forms it replaced
  * ([[KMeansReference]]): seeded random models and vectors, with the
  * edge rows the ordering contract names — exact key ties, NaN
  * elements, null vectors, short and long vectors, null elements.
  */
class NearestCentroidSpec extends SparkTestBase {
  private val dim = 16
  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", ArrayType(FloatType, containsNull = true))))

  // coarse grid values: dots are exact in double, so exact key ties
  // (and duplicate-word ties) are common, not measure-zero
  private def grid(r: scala.util.Random): Float = (r.nextInt(9) - 4) * 0.25f

  private def words(r: scala.util.Random, k: Int, len: Int): Array[Array[Float]] = {
    val ws = Array.fill(k) {
      var w = Array.fill(len)(grid(r))
      while (w.forall(_ == 0f)) w = Array.fill(len)(grid(r)) // cosine needs |c| > 0
      w
    }
    if (k > 2) ws(k - 1) = ws(1).clone() // duplicate word: an exact tie on every row
    ws
  }

  /** Rows mixing plain vectors with every edge case; NaN only if asked
    * (the trainer rejects NaN input loudly, see below).
    */
  private def vectors(seed: Long, n: Int, nan: Boolean): DataFrame = {
    val r = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      val base: Array[java.lang.Float] = Array.fill(dim)(java.lang.Float.valueOf(grid(r)))
      val v: Seq[java.lang.Float] = r.nextInt(10) match {
        case 0 => null
        case 1 => base.take(r.nextInt(dim)).toSeq                // short (maybe empty)
        case 2 => (base ++ Array.fill(3)(java.lang.Float.valueOf(grid(r)))).toSeq // long
        case 3 => base.updated(r.nextInt(dim), null).toSeq         // null element
        case 4 if nan => base.updated(r.nextInt(dim), java.lang.Float.valueOf(Float.NaN)).toSeq
        case 5 => Array.fill(dim)(java.lang.Float.valueOf(0f)).toSeq // zero vector
        case _ => base.toSeq
      }
      Row(i.toLong, v)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  /** Collects (id, reference, kernel) per row under both the generated
    * and the interpreted evaluation paths.
    */
  private def agree(df: DataFrame, ref: Column, got: Column, what: String): Unit =
    for ((wholeStage, mode) <- Seq("true" -> "CODEGEN_ONLY", "false" -> "NO_CODEGEN")) {
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      try {
        val bad = df.select(col("id"), ref.as("r"), got.as("g")).collect()
          .filter(r => r.get(1) != r.get(2))
        assert(bad.isEmpty, s"$what [$mode]: ${bad.take(5).mkString(", ")}")
      } finally {
        spark.conf.unset("spark.sql.codegen.wholeStage")
        spark.conf.unset("spark.sql.codegen.factoryMode")
      }
    }

  private def bits(ws: Seq[Array[Array[Float]]]): Seq[Seq[Seq[Int]]] =
    ws.map(_.toSeq.map(_.toSeq.map(java.lang.Float.floatToRawIntBits)))

  test("cosine cells: argmin and top-n match least()/array_sort on every edge row") {
    for (seed <- 1L to 4L) {
      val r = new scala.util.Random(seed)
      val k = 2 + r.nextInt(7)
      val cents = words(r, k, dim)
      val books = CentroidBooks(Seq(cents), cosine = true)
      val df = vectors(seed, 200, nan = true)
      agree(df, KMeansReference.nearestCell(col("v"), cents),
        NearestCentroid(col("v"), books, 1, scalar = true), s"cell seed=$seed")
      for (n <- Seq(1, 2, k))
        agree(df, KMeansReference.nearestCells(col("v"), cents, n),
          NearestCentroid(col("v"), books, n, scalar = false), s"top-$n seed=$seed")
    }
  }

  test("euclidean codebooks: m in {1, 4, 8} match the sliced least() argmins") {
    for (seed <- 11L to 13L; m <- Seq(1, 4, 8)) {
      val r = new scala.util.Random(seed * 31 + m)
      val k = 2 + r.nextInt(15)
      val bs = Seq.fill(m)(words(r, k, dim / m))
      agree(vectors(seed, 200, nan = true), KMeansReference.encode(col("v"), bs),
        NearestCentroid(col("v"), CentroidBooks(bs, cosine = false), 1, scalar = false),
        s"pq m=$m seed=$seed")
    }
  }

  test("typed trainer matches the Column trainer bit for bit, both geometries") {
    for (seed <- 21L to 22L) {
      val e = vectors(seed, 240, nan = false)
      val r = new scala.util.Random(seed)
      val k = 3 + r.nextInt(6)
      val seeds = words(r, k, dim)
      val ivf = KMeans.train(e, "id", "v", k, iters = 2, m = 1, cosine = true,
        seeds = Some(seeds))
      val ivfRef = KMeansReference.train(e, "id", "v", k, 2,
        KMeansReference.nearestCell, Some(seeds))
      assert(bits(ivf.toSeq) == bits(Seq(ivfRef)), s"cosine seed=$seed")
      for (m <- Seq(1, 4, 8)) {
        val pq = KMeans.train(e, "id", "v", k, iters = 2, m, cosine = false,
          seeds = Some(seeds))
        val pqRef = KMeansReference.trainPq(e, "id", "v", m, k, 2, Some(seeds))
        assert(bits(pq.toSeq) == bits(pqRef), s"euclidean m=$m seed=$seed")
      }
    }
  }

  test("NaN training input fails the domain guard, as in the Column trainer") {
    val nanRow = Row(1000L, Seq.fill(dim)(java.lang.Float.valueOf(Float.NaN)))
    val e = vectors(5L, 60, nan = false)
      .union(spark.createDataFrame(spark.sparkContext.parallelize(Seq(nanRow), 1), schema))
    val seeds = Some(words(new scala.util.Random(5L), 3, dim))
    intercept[IllegalArgumentException] {
      KMeansReference.train(e, "id", "v", 3, 1, KMeansReference.nearestCell, seeds)
    }
    intercept[IllegalArgumentException] {
      KMeans.train(e, "id", "v", 3, iters = 1, m = 1, cosine = true, seeds = seeds)
    }
  }

  test("IVF and PQ models on the sf0.01 embeddings are bit-identical to the reference") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), col("embedding"))
    val ivf = IvfIndex.train(emb, "vec_id", "embedding", k = 16, iters = 2)
    val ivfRef = KMeansReference.trainIvf(emb, "vec_id", "embedding", k = 16, iters = 2)
    assert(bits(Seq(ivf.map(_.vec).toArray)) == bits(Seq(ivfRef)))
    val pq = PqIndex.train(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    val pqRef = KMeansReference.trainPq(emb, "vec_id", "embedding", m = 8, k = 16, iters = 2)
    assert(bits(pq.books.map(_.words)) == bits(pqRef))
    // and the served codes equal the Column forms' on the same corpus
    val ids = emb.withColumnRenamed("vec_id", "id")
    agree(IvfIndex.assign(ids, "embedding", ivf),
      KMeansReference.nearestCell(col("embedding"), ivfRef), col("cell"), "sf0.01 ivf cells")
    agree(ids, KMeansReference.nearestCells(col("embedding"), ivfRef, 3),
      NearestCentroid(col("embedding"), CentroidBooks(Seq(ivfRef), cosine = true), 3,
        scalar = false), "sf0.01 ivf top-3")
    agree(PqIndex.encode(ids, "embedding", pq),
      KMeansReference.encode(col("embedding"), pqRef), col("pqcode"), "sf0.01 pq codes")
  }

  test("training job counts: IVF <= iters + 1, PQ <= iters + 3 for any m") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    emb.schema // resolve the parquet schema outside the counted window
    val iters = 2
    val ivfJobs = graft.ros.etl.EtlCommitRecordSpec.countJobs(spark) {
      IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = iters); ()
    }
    assert(ivfJobs <= iters + 1, s"IvfIndex.train ran $ivfJobs jobs")
    for (m <- Seq(1, 4, 8)) {
      val pqJobs = graft.ros.etl.EtlCommitRecordSpec.countJobs(spark) {
        PqIndex.train(emb, "vec_id", "embedding", m = m, k = 8, iters = iters); ()
      }
      assert(pqJobs <= iters + 3, s"PqIndex.train m=$m ran $pqJobs jobs")
    }
  }

  test("a zero-norm centroid ranks last in assign, assignMulti and probeCells alike") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val trained = IvfIndex.train(emb, "vec_id", "embedding", k = 4, iters = 1)
    val cents = trained.updated(1, IvfIndex.Centroid(1, new Array[Float](trained(1).vec.length)))
    val rows = IvfIndex.assign(emb, "embedding", cents)
      .select(col("embedding"), col("cell")).collect()
    // explode keeps each row's cells best-first within its partition
    val multi = IvfIndex.assignMulti(emb, "embedding", cents, nAssign = 4)
      .select(col("vec_id"), col("embedding"), col("cell")).collect().toSeq
      .groupBy(_.getLong(0))
    assert(!rows.exists(_.getInt(1) == 1), "no vector may land in the zero cell")
    rows.foreach { r =>
      val v = r.getSeq[Float](0).toArray
      assert(r.getInt(1) == IvfIndex.probeCells(v, cents, 1).head)
    }
    assert(multi.size == rows.length)
    multi.foreach { case (id, rs) =>
      val v = rs.head.getSeq[Float](1).toArray
      assert(rs.map(_.getInt(2)) == IvfIndex.probeCells(v, cents, 4), s"vec $id")
    }
  }
}
