package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.CentroidBooks
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Deterministic Lloyd k-means over an (id, float-vector) DataFrame —
  * the shared trainer behind IvfIndex (one cosine book of cells) and
  * PqIndex (m euclidean codebooks over contiguous windows). The model
  * is m×k×dim floats: training state lives driver-side, and each
  * iteration is ONE typed pass (one Spark job, no shuffle) that
  * assigns every row to its nearest word in every book through the
  * [[CentroidBooks]] kernel — the same kernel serving uses — and folds
  * per-(book, word, position) partial sums into model-sized arrays.
  *
  * Deterministic throughout:
  *  - seed init picks the k lowest-xxhash ids (a pseudo-random sample
  *    that assumes nothing about the id distribution); book b seeds
  *    from window b of those vectors;
  *  - centroid updates quantize each element to integer micros BEFORE
  *    summation, so the sums are exact long arithmetic — independent
  *    of partition-merge order (a plain mean of doubles can differ in
  *    the last ulp between runs and flip a toFloat rounding);
  *  - each position is averaged over its own non-null count, so a
  *    word mixing short and full-length vectors gets an unbiased mean
  *    of the values actually present; a position with no values (an
  *    empty cell, an all-short cell) keeps the previous coordinate;
  *  - argmin ties break toward the lower word id.
  */
object KMeans {

  /** @param m books: 1 for IVF, the subspace count for PQ; vectors
    *        split into m windows of seedDim/m.
    * @param cosine the IVF geometry (see [[CentroidBooks]]); otherwise
    *        euclidean.
    * @param seeds optional pre-collected full-vector init centroids.
    * @return the trained words, `[book][word][i]`.
    */
  def train(e: DataFrame, idCol: String, vecCol: String, k: Int, iters: Int,
            m: Int, cosine: Boolean,
            seeds: Option[Array[Array[Float]]] = None): Array[Array[Array[Float]]] = {
    require(k >= 1 && iters >= 0 && m >= 1,
      s"need k >= 1, iters >= 0 and m >= 1, got k=$k iters=$iters m=$m")
    require(e.schema(vecCol).dataType match { case ArrayType(FloatType, _) => true; case _ => false },
      s"$vecCol must be array<float>, got ${e.schema(vecCol).dataType.simpleString}")
    val init = seeds.getOrElse {
      e.orderBy(xxhash64(col(idCol)), col(idCol)).limit(k)
        .select(col(vecCol)).collect().map(_.getSeq[Float](0).toArray)
    }
    require(init.nonEmpty, "cannot train on an empty table")
    require(init.head.length % m == 0, s"dim ${init.head.length} must divide into m=$m books")
    val dim = init.head.length / m
    var books = Array.tabulate(m)(b => init.map(_.slice(b * dim, (b + 1) * dim)))
    val kk = init.length // fewer than k rows: fewer words
    val rows = e.select(col(vecCol)).queryExecution.toRdd
    for (it <- 1 to iters) {
      val kernel = CentroidBooks(books.toSeq, cosine)
      val st = rows.aggregate(new LloydStats(kernel, guard = it == 1))(_ add _, _ merge _)
      // The overflow guard rides iteration 1's pass instead of a
      // separate full-corpus pass: the micro-quantized sums are exact
      // only while they fit a Long (n values of magnitude <= mx sum to
      // <= n*mx*1e6). Detect, not silently wrap — embeddings are
      // O(1)-magnitude, so a violation means unnormalized input.
      if (it == 1)
        require(st.mx * 1e6 * st.n <= Long.MaxValue.toDouble * 0.99,
          s"k-means centroid sum could overflow Long: ${st.n} vectors with " +
            f"max|x|=${st.mx}%.3g exceed the exact-integer domain " +
            "(|x|*1e6*rows must stay below 2^63) — rescale the input")
      if (st.overflow) throw new ArithmeticException("k-means centroid sum overflowed Long")
      books = Array.tabulate(m, kk) { (b, j) =>
        val c = books(b)(j)
        val base = (b * kk + j) * dim
        Array.tabulate(dim) { i =>
          val cnt = st.cnts(base + i)
          if (cnt == 0L) c(i) else (st.sums(base + i).toDouble / (1e6 * cnt)).toFloat
        }
      }
    }
    books
  }

  /** One partition's (then the merged) Lloyd statistics of every book:
    * micro sums and non-null counts per (book, word, position), rows
    * seen, and — when `guard` — the max |x| the domain check reads
    * (NaN-poisoned, as Spark's max orders NaN above every double).
    * Long adds are overflow-checked into `overflow` instead of wrapping.
    */
  private final class LloydStats(books: CentroidBooks, guard: Boolean) extends Serializable {
    import books.{dim, k, m}
    val sums = new Array[Long](m * k * dim)
    val cnts = new Array[Long](m * k * dim)
    var n = 0L
    var mx = 0.0
    var overflow = false

    private def plus(a: Long, b: Long): Long = {
      val r = a + b
      if (((a ^ r) & (b ^ r)) < 0) overflow = true
      r
    }

    def add(row: InternalRow): LloydStats = {
      n += 1
      if (!row.isNullAt(0)) {
        val v = row.getArray(0)
        val len = v.numElements()
        if (guard) {
          // the cosine geometry reads the whole vector, PQ its windows
          val hi = if (books.cosine) len else math.min(len, m * dim)
          var i = 0
          while (i < hi) {
            if (!v.isNullAt(i)) mx = math.max(mx, math.abs(v.getFloat(i).toDouble))
            i += 1
          }
        }
        var b = 0
        while (b < m) {
          val base = (b * k + books.nearest(v, b)) * dim
          val off = b * dim
          var i = 0
          while (i < dim && off + i < len) {
            if (!v.isNullAt(off + i)) {
              sums(base + i) = plus(sums(base + i),
                math.floor(v.getFloat(off + i).toDouble * 1e6 + 0.5).toLong)
              cnts(base + i) += 1
            }
            i += 1
          }
          b += 1
        }
      }
      this
    }

    def merge(o: LloydStats): LloydStats = {
      var i = 0
      while (i < sums.length) {
        sums(i) = plus(sums(i), o.sums(i)); cnts(i) += o.cnts(i); i += 1
      }
      n += o.n
      mx = math.max(mx, o.mx)
      overflow ||= o.overflow
      this
    }
  }
}
