package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.{CentroidBooks, NearestCentroid, VectorFunctions}

/** IVF-style coarse quantization for embedding similarity search:
  * k-means-trained centroids, a map-only cell-assignment expression,
  * and a cell-partitioned parquet layout whose probes prune to
  * nProbe/k of the data.
  *
  * Scale shape: training state is k centroids × dim floats — a model,
  * not data, so it lives driver-side (one typed pass per Lloyd
  * iteration, [[KMeans]]). Assignment is a single projection per row:
  * one fused nearest-centroid expression (graftfns.NearestCentroid,
  * the same kernel the trainer uses) — no join, no window, no
  * shuffle; the round-1 shape (crossJoin ×k then a row_number window)
  * shuffled 16× the corpus for the same argmax.
  */
object IvfIndex {
  final case class Centroid(id: Int, vec: Array[Float]) {
    // left-to-right double fold, same op order as the l2() column
    val norm: Double = {
      var acc = 0.0; var i = 0
      while (i < vec.length) { acc += vec(i).toDouble * vec(i).toDouble; i += 1 }
      math.sqrt(acc)
    }
  }

  private def dotd(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  /** Deterministic k-means via the shared trainer (graft.operators
    * .KMeans: lowest-hash seed init, order-independent integer-micro
    * sum updates, empty cells keep their centroid) with the COSINE
    * cell geometry of [[CentroidBooks]]: key -dot/|c| (|v| is constant
    * per row, so it cancels out of the argmax), ties toward the lower
    * cell id, zero-norm cells last.
    */
  def train(e: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int): Seq[Centroid] =
    KMeans.train(e, idCol, vecCol, k, iters, m = 1, cosine = true).head
      .zipWithIndex.map { case (w, i) => Centroid(i, w) }.toIndexedSeq

  private def books(cents: Seq[Centroid]): CentroidBooks = {
    require(cents.map(_.id) == cents.indices, "centroid ids must be 0 until k, in order")
    CentroidBooks(Seq(cents.map(_.vec).toArray), cosine = true)
  }

  /** Adds a `cell` column — the index assignment pass. */
  def assign(e: DataFrame, vecCol: String, cents: Seq[Centroid]): DataFrame =
    e.withColumn("cell", NearestCentroid(col(vecCol), books(cents), 1, scalar = true))

  /** Multi-assignment: one row per (vector, cell) for the nAssign
    * nearest cells, best first — the cross-cell recall knob for
    * within-cell algorithms (SemDeDup-style dedup misses pairs
    * straddling a cell boundary by construction; with nAssign=2 a
    * boundary pair is co-located in one of the shared runner-up
    * cells). Row volume is nAssign×; downstream pair consumers must
    * dedupe, since a pair sharing two cells is emitted from both.
    * nAssign=1 is `assign`.
    */
  def assignMulti(e: DataFrame, vecCol: String, cents: Seq[Centroid],
                  nAssign: Int): DataFrame = {
    require(nAssign >= 1 && nAssign <= cents.size,
      s"nAssign must be in [1, ${cents.size}], got $nAssign")
    if (nAssign == 1) assign(e, vecCol, cents)
    else e.withColumn("cell",
      explode(NearestCentroid(col(vecCol), books(cents), nAssign, scalar = false)))
  }

  /** nProbe cells nearest to a local query vector — pure driver math
    * over the k-row model. Dimension mismatches fail loudly (a silent
    * prefix dot product returns confidently wrong neighbors), and
    * zero-norm centroids rank last instead of poisoning the sort with
    * NaN.
    */
  def probeCells(q: Array[Float], cents: Seq[Centroid], nProbe: Int): Seq[Int] =
    cents.map { c =>
      require(c.vec.length == q.length,
        s"query dim ${q.length} != centroid ${c.id} dim ${c.vec.length}")
      var acc = 0.0; var i = 0
      while (i < q.length) { acc += q(i).toDouble * c.vec(i).toDouble; i += 1 }
      (if (c.norm == 0.0) Double.MaxValue else -acc / c.norm, c.id)
    }.sorted.take(nProbe).map(_._2)

  /** Persist a trained model: centroids as one parquet file plus a
    * `_model.json` manifest written LAST (the commit marker —
    * [[ModelIO]]). A real vector pipeline trains ONCE and serves every
    * later session from the stored model; without persistence a fresh
    * JVM retrains from scratch (the round-5 gap).
    */
  def save(spark: org.apache.spark.sql.SparkSession, dir: String,
           cents: Seq[Centroid], extra: Map[String, String] = Map.empty): Unit = {
    require(cents.nonEmpty, "cannot save an empty centroid set")
    import spark.implicits._
    // un-commit FIRST: a re-save or lost concurrent-save race must
    // never leave a committed manifest over a missing/half-rewritten
    // payload (the overwrite below deletes the old parquet)
    ModelIO.deleteManifest(spark, dir)
    // coalesce, not repartition: the k-row local frame writes its one
    // file without a shuffle
    cents.map(c => (c.id, c.vec)).toDF("id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    ModelIO.writeManifest(spark, dir, extra ++ Map(
      "type" -> "ivf", "k" -> cents.size.toString,
      "dim" -> cents.head.vec.length.toString))
  }

  /** Load a committed model from [[save]]'s layout; None when no
    * manifest exists (absent or mid-save-crashed dir).
    */
  def loadIfExists(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Option[Seq[Centroid]] =
    ModelIO.readManifest(spark, dir).map { mf =>
      require(mf.get("type").contains("ivf"), s"$dir holds a ${mf.get("type")} model, not ivf")
      val (k, dim) = (mf("k").toInt, mf("dim").toInt)
      val cents = spark.read.parquet(s"$dir/centroids.parquet")
        .orderBy("id").collect()
        .map(r => Centroid(r.getInt(0), r.getSeq[Float](1).toArray)).toIndexedSeq
      require(cents.size == k && cents.forall(_.vec.length == dim),
        s"$dir model payload disagrees with its manifest (k=$k dim=$dim)")
      cents
    }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Seq[Centroid] =
    loadIfExists(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed IVF model at $dir"))

  /** Persisted index: train, assign, write parquet partitioned by
    * `cell`. A probe that filters `cell IN (...)` reads only the probed
    * directories (partition pruning) — nProbe/k of the bytes.
    */
  def build(e: DataFrame, idCol: String, vecCol: String, dir: String,
            k: Int, iters: Int = 2): Seq[Centroid] = {
    val cents = train(e, idCol, vecCol, k, iters)
    assign(e, vecCol, cents).write.partitionBy("cell").mode("overwrite").parquet(dir)
    cents
  }

  /** Probe a built index directory: prune to nProbe cells, exact-rerank
    * inside them, return top-k by cosine.
    */
  def probe(spark: org.apache.spark.sql.SparkSession, dir: String, idCol: String,
            vecCol: String, cents: Seq[Centroid], q: Array[Float],
            nProbe: Int, topK: Int): DataFrame =
    rerank(candidates(spark, dir, cents, q, nProbe), idCol, vecCol, q, topK)

  /** FILTERED probe — the filtered-search feature of production vector
    * stores (q68 is the exact-scan form): candidates are pruned on BOTH
    * axes before any scoring — cell pruning reads nProbe/k of the bytes
    * (partition pruning), and the metadata keep-set lands as a
    * semi-join on id ahead of the rerank, so non-matching vectors are
    * never scored. `keep` needs an idCol column; it is NOT
    * force-broadcast (a permissive predicate's keep-set outgrows the
    * driver — AQE broadcasts when it fits).
    */
  def probeFiltered(spark: org.apache.spark.sql.SparkSession, dir: String,
                    idCol: String, vecCol: String, cents: Seq[Centroid],
                    q: Array[Float], nProbe: Int, topK: Int,
                    keep: DataFrame): DataFrame = {
    require(keep.columns.contains(idCol),
      s"keep-set must carry the id column '$idCol' (has ${keep.columns.mkString(", ")})")
    rerank(
      candidates(spark, dir, cents, q, nProbe)
        .join(keep.select(col(idCol)), Seq(idCol), "left_semi"),
      idCol, vecCol, q, topK)
  }

  /** Cell-pruned candidate scan of a built index directory. */
  private def candidates(spark: org.apache.spark.sql.SparkSession, dir: String,
                         cents: Seq[Centroid], q: Array[Float],
                         nProbe: Int): DataFrame = {
    val cells = probeCells(q, cents, nProbe)
    spark.read.parquet(dir).filter(col("cell").isin(cells: _*))
  }

  /** Exact cosine rerank + top-k of a candidate stream. */
  private def rerank(cand: DataFrame, idCol: String, vecCol: String,
                     q: Array[Float], topK: Int): DataFrame = {
    val qNorm = {
      var acc = 0.0; var i = 0
      while (i < q.length) { acc += q(i).toDouble * q(i).toDouble; i += 1 }
      math.sqrt(acc)
    }
    cand.select(col(idCol),
      (dotd(col(vecCol), typedLit(q)) /
        (VectorFunctions.norm(col(vecCol)) * lit(qNorm))).as("cos"))
      .orderBy(col("cos").desc, col(idCol)).limit(topK)
  }
}
