package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.{CentroidBooks, NearestCentroid, VectorFunctions}

/** Product quantization for embedding similarity search: the vector
  * splits into `m` contiguous subvectors, each quantized to one of `k`
  * codewords by a per-subspace k-means codebook — a vector compresses
  * to m small ints (m bytes for k<=256), a 32x reduction of a 64-dim
  * float32 embedding at m=8.
  *
  * This is the memory-side scale path that IVF (cell pruning) and int8
  * scalar quantization (4x) don't give: at 100 TB of embeddings the PQ
  * codes of the ENTIRE corpus fit in cluster memory, so candidate
  * scoring never touches the float vectors; only the final rerank
  * fetches them. Scale shape mirrors IvfIndex: codebooks are a MODEL
  * (m×k×subDim floats) living driver-side; encoding is one map-only
  * projection (one fused nearest-centroid expression yielding all m
  * codes, no join/window/shuffle); ADC scoring is per-row table
  * lookups against a broadcast literal.
  *
  * Reference has no ANN surface — this extends the engine's similarity
  * family (q25 exact, q31 LSH, q42 IVF, q50 int8) per the
  * training-data-pipeline brief.
  */
object PqIndex {
  final case class Codebook(sub: Int, words: Array[Array[Float]])
  final case class Model(m: Int, subDim: Int, books: Seq[Codebook])

  private def dotd(a: Column, b: Column): Column = VectorFunctions.dot(a, b)

  /** Per-subspace k-means via the shared deterministic trainer
    * (graft.operators.KMeans) under the EUCLIDEAN geometry of
    * [[CentroidBooks]] (the PQ objective — cosine cells would bias the
    * reconstruction): |v-c|² = |v|² − 2v·c + |c|², and |v|² is constant
    * per row, so the argmin keys on |c|² − 2·dot(v,c), ties to the
    * lower code id. All m subspaces train in the SAME pass per Lloyd
    * iteration, from one collection of the k lowest-hash seed rows
    * sliced per subspace.
    */
  def train(e: DataFrame, idCol: String, vecCol: String,
            m: Int, k: Int, iters: Int): Model = {
    require(m >= 1 && k >= 1 && iters >= 0,
      s"need m >= 1, k >= 1, iters >= 0; got m=$m k=$k iters=$iters")
    // one guarded scan: every vector must have the same dimension — a
    // ragged row would otherwise mis-encode SILENTLY (a short window
    // keys NULL and takes code 0, yielding valid-looking but wrong
    // codes)
    val dims = e.agg(min(size(col(vecCol))), max(size(col(vecCol)))).head()
    val (dmin, dim) = (dims.getInt(0), dims.getInt(1))
    require(dmin == dim, s"ragged vector column: sizes $dmin..$dim")
    require(dim % m == 0, s"dim $dim must divide into m=$m subspaces")
    val books = KMeans.train(e, idCol, vecCol, k, iters, m, cosine = false)
    Model(m, dim / m, books.toSeq.zipWithIndex.map { case (ws, s) => Codebook(s, ws) })
  }

  /** Persist a trained model: codebook words as one parquet file
    * (sub, word, vec) plus a `_model.json` manifest written LAST (the
    * commit marker — [[ModelIO]]). Same train-once serve-forever
    * lifecycle as [[IvfIndex.save]].
    */
  def save(spark: org.apache.spark.sql.SparkSession, dir: String,
           model: Model, extra: Map[String, String] = Map.empty): Unit = {
    require(model.books.nonEmpty && model.books.forall(_.words.nonEmpty),
      "cannot save an empty PQ model")
    import spark.implicits._
    // un-commit FIRST — see IvfIndex.save
    ModelIO.deleteManifest(spark, dir)
    model.books.flatMap(b => b.words.zipWithIndex.map { case (w, j) => (b.sub, j, w) })
      .toDF("sub", "word", "vec")
      .coalesce(1) // one file, no shuffle — see IvfIndex.save
      .write.mode("overwrite").parquet(s"$dir/codebooks.parquet")
    ModelIO.writeManifest(spark, dir, extra ++ Map(
      "type" -> "pq", "m" -> model.m.toString,
      "subDim" -> model.subDim.toString,
      "k" -> model.books.head.words.length.toString))
  }

  /** Load a committed model from [[save]]'s layout; None when no
    * manifest exists (absent or mid-save-crashed dir).
    */
  def loadIfExists(spark: org.apache.spark.sql.SparkSession,
                   dir: String): Option[Model] =
    ModelIO.readManifest(spark, dir).map { mf =>
      require(mf.get("type").contains("pq"), s"$dir holds a ${mf.get("type")} model, not pq")
      val (m, subDim, k) = (mf("m").toInt, mf("subDim").toInt, mf("k").toInt)
      val rows = spark.read.parquet(s"$dir/codebooks.parquet")
        .orderBy("sub", "word").collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
      val books = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (sub, ws) =>
        Codebook(sub, ws.sortBy(_._2).map(_._3))
      }
      require(books.size == m && books.forall(_.words.length == k) &&
        books.forall(_.words.forall(_.length == subDim)),
        s"$dir model payload disagrees with its manifest (m=$m k=$k subDim=$subDim)")
      Model(m, subDim, books)
    }

  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model =
    loadIfExists(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed PQ model at $dir"))

  /** Adds a `pqcode` array<int> column (cast to array<tinyint> on disk
    * for k<=256 if storage matters) — one projection, one kernel call
    * yielding all m codes.
    */
  def encode(e: DataFrame, vecCol: String, model: Model): DataFrame = {
    require(model.books.map(_.sub) == model.books.indices, "codebooks must be subs 0 until m, in order")
    e.withColumn("pqcode", NearestCentroid(col(vecCol),
      CentroidBooks(model.books.map(_.words), cosine = false), 1, scalar = false))
  }

  /** Asymmetric-distance (ADC) inner-product score of a LOCAL query
    * against the `pqcode` column: T[s][j] = dot(q_s, word_sj) is
    * computed driver-side (m×k doubles — a lookup table, not data) and
    * the per-row score is m literal-array lookups summed — map-only,
    * inside whole-stage codegen.
    */
  def adcScore(q: Array[Float], model: Model): Column = {
    require(q.length == model.m * model.subDim,
      s"query dim ${q.length} != model dim ${model.m * model.subDim}")
    val tables: Seq[Array[Double]] = model.books.map { b =>
      b.words.map { w =>
        var acc = 0.0; var i = 0
        while (i < w.length) { acc += q(b.sub * model.subDim + i).toDouble * w(i).toDouble; i += 1 }
        acc
      }
    }
    model.books.indices.map { s =>
      element_at(typedLit(tables(s)), element_at(col("pqcode"), s + 1) + 1)
    }.reduce(_ + _)
  }

  /** ANN search in TWO passes so the claim "only shortlist rows touch
    * their float vectors" is true in the PLAN, not just the prose:
    * pass 1 scores (id, pqcode) only — the float column is absent from
    * that projection — and the shortlist stays IN-PLAN (per-partition
    * local top-`shortlist` + one k×partitions-row merge, then a
    * broadcast semi-join prunes the rerank side at runtime), so the
    * whole search is ONE Spark action instead of a collect-then-requery
    * pair; pass 2 exact-reranks just the semi-joined rows by cosine.
    * Zero-norm vectors rank LAST (cos would be 0/0 = NaN, which Spark
    * sorts above every real double — a garbage vector must not win).
    */
  def search(encoded: DataFrame, idCol: String, vecCol: String, model: Model,
             q: Array[Float], topK: Int, shortlist: Int = 64): DataFrame = {
    val qNorm = math.sqrt(q.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
    require(qNorm > 0, "zero query vector has no cosine neighbors")
    val short = encoded.select(col(idCol), col("pqcode"))
      .withColumn("adc", adcScore(q, model))
      .orderBy(col("adc").desc, col(idCol)).limit(shortlist)
      .select(col(idCol))
    val nrm = VectorFunctions.norm(col(vecCol))
    encoded.join(broadcast(short), Seq(idCol), "left_semi")
      .select(col(idCol),
        when(nrm > 0, dotd(col(vecCol), typedLit(q)) / (nrm * lit(qNorm)))
          .otherwise(lit(-2.0)).as("cos"))
      .orderBy(col("cos").desc, col(idCol)).limit(topK)
  }

  /** FILTERED ANN search: the metadata keep-set semi-joins the encoded
    * table BEFORE the ADC shortlist pass, so both passes see only
    * matching rows — pre-filtering, the vector-store convention (a
    * post-filter of the shortlist could leave fewer than topK
    * survivors of a selective predicate no matter how large the true
    * match set is). Same pattern as IvfIndex.probeFiltered; `keep` is
    * not force-broadcast.
    */
  def searchFiltered(encoded: DataFrame, idCol: String, vecCol: String,
                     model: Model, q: Array[Float], topK: Int,
                     keep: DataFrame, shortlist: Int = 64): DataFrame = {
    require(keep.columns.contains(idCol),
      s"keep-set must carry the id column '$idCol' (has ${keep.columns.mkString(", ")})")
    search(encoded.join(keep.select(col(idCol)), Seq(idCol), "left_semi"),
      idCol, vecCol, model, q, topK, shortlist)
  }
}
