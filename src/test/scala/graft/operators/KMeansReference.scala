package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.VectorFunctions

/** The Column-built forms the fused nearest-centroid kernel replaced,
  * kept verbatim as the reference the kernel and the typed trainer
  * must match bit for bit: the `least(struct(key, id))` argmins, the
  * `array_sort` top-n, and the Lloyd loop whose every iteration was a
  * 2·dim+1-column groupBy aggregate (PQ ran one such loop per
  * subspace). Cosine keys divide by |c| as the Column form did, so a
  * zero-norm centroid is outside the reference's domain.
  */
object KMeansReference {
  private def dotd(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  private def cellKeys(v: Column, cents: Array[Array[Float]]): Seq[Column] =
    cents.toSeq.zipWithIndex.map { case (c, id) =>
      val norm = math.sqrt(c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      struct((-dotd(v, typedLit(c)) / lit(norm)).as("negsim"), lit(id).as("id"))
    }

  /** IVF cell: one least() over k (−dot/|c|, id) structs. */
  def nearestCell(v: Column, cents: Array[Array[Float]]): Column = {
    val scored = cellKeys(v, cents)
    (if (scored.size == 1) scored.head else least(scored: _*)).getField("id")
  }

  /** IVF top-n cells: array_sort of the same structs, first n ids. */
  def nearestCells(v: Column, cents: Array[Array[Float]], n: Int): Column =
    transform(slice(array_sort(array(cellKeys(v, cents): _*)), 1, n), x => x.getField("id"))

  /** PQ codeword: one least() over k (|c|² − 2·dot, id) structs. */
  def nearestWord(v: Column, words: Array[Array[Float]]): Column = {
    val scored = words.toSeq.zipWithIndex.map { case (w, j) =>
      val c2 = w.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble)
      struct((lit(c2) - lit(2.0) * dotd(v, typedLit(w))).as("d"), lit(j).as("id"))
    }
    (if (scored.length == 1) scored.head else least(scored: _*)).getField("id")
  }

  /** PQ codes: m sliced argmins. */
  def encode(v: Column, books: Seq[Array[Array[Float]]]): Column = {
    val subDim = books.head.head.length
    array(books.zipWithIndex.map { case (ws, s) =>
      nearestWord(slice(v, s * subDim + 1, subDim), ws)
    }: _*)
  }

  /** The Column-built Lloyd loop: one groupBy aggregate per iteration. */
  def train(e: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
            nearest: (Column, Array[Array[Float]]) => Column,
            seeds: Option[Array[Array[Float]]] = None): Array[Array[Float]] = {
    var cents: Array[Array[Float]] = seeds.getOrElse {
      e.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
        .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    }
    require(cents.nonEmpty, "cannot train on an empty table")
    val dim = cents.head.length
    def sIdx(i: Int) = 1 + 2 * i
    def cIdx(i: Int) = 2 + 2 * i
    val nIdx = 1 + 2 * dim
    val mxIdx = 2 + 2 * dim
    for (it <- 1 to iters) {
      val sumCols = (0 until dim).flatMap(i => Seq(
        sum(floor(try_element_at(col("__v"), lit(i + 1)).cast("double") * 1e6 + 0.5)
          .cast("long")).as(s"s$i"),
        count(try_element_at(col("__v"), lit(i + 1))).as(s"c$i"))) :+
        count(lit(1)).as("__n")
      val aggCols = if (it == 1) sumCols :+
        max(array_max(transform(col("__v"), x => abs(x.cast("double"))))).as("__mx")
      else sumCols
      val rows = e.select(col(vecCol).as("__v"))
        .withColumn("__cell", nearest(col("__v"), cents))
        .groupBy(col("__cell")).agg(aggCols.head, aggCols.tail: _*)
        .collect()
      if (it == 1) {
        val n = rows.map(_.getLong(nIdx)).sum
        val mx = rows.collect { case r if !r.isNullAt(mxIdx) => r.getDouble(mxIdx) }
          .foldLeft(0.0)(math.max)
        require(mx * 1e6 * n <= Long.MaxValue.toDouble * 0.99,
          s"k-means centroid sum could overflow Long: $n vectors with max|x|=$mx")
      }
      val updated = rows.flatMap { r =>
        if (r.isNullAt(0)) None else Some(r.getInt(0) -> r)
      }.toMap
      cents = cents.zipWithIndex.map { case (c, j) =>
        updated.get(j) match {
          case None => c
          case Some(r) => Array.tabulate(dim) { i =>
            val cnt = r.getLong(cIdx(i))
            if (cnt == 0L) c(i)
            else (r.getLong(sIdx(i)).toDouble / (1e6 * cnt)).toFloat
          }
        }
      }
    }
    cents
  }

  /** Reference IVF training: the loop above under the cosine argmin. */
  def trainIvf(e: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int)
      : Array[Array[Float]] =
    train(e, idCol, vecCol, k, iters, nearestCell)

  /** Reference PQ training: one loop per subspace over the sliced
    * column, all seeded from one collection of the lowest-hash rows.
    */
  def trainPq(e: DataFrame, idCol: String, vecCol: String, m: Int, k: Int, iters: Int,
              seeds: Option[Array[Array[Float]]] = None): Seq[Array[Array[Float]]] = {
    val seedVecs = seeds.getOrElse(e.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
      .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray))
    val subDim = seedVecs.head.length / m
    (0 until m).map { s =>
      val sub = e.select(col(idCol), slice(col(vecCol), s * subDim + 1, subDim).as("sv"))
      train(sub, idCol, "sv", k, iters, nearestWord,
        Some(seedVecs.map(_.slice(s * subDim, (s + 1) * subDim))))
    }
  }
}
