package org.apache.spark.sql.graftfns

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, FloatType, IntegerType}

/** A k-means model as the nearest-centroid kernel sees it: `m` books
  * of `k` words of `dim` floats, flat in `words` at
  * `((b*k + j)*dim + i)`. One kernel serves both the Lloyd trainer
  * (graft.operators.KMeans) and the [[NearestCentroid]] expression
  * behind IVF cell assignment and PQ encoding, so trained models and
  * served codes share one arithmetic.
  *
  * Two geometries, one per consumer:
  *  - `cosine` (IVF cells, m = 1): key `-dot/|c|` over the WHOLE
  *    vector, which must be exactly `dim` long. |v| is constant per
  *    row, so it cancels out of the argmin. A zero-norm centroid ranks
  *    last (key Double.MaxValue), as in IvfIndex.probeCells, instead
  *    of dividing by zero.
  *  - euclidean (PQ codewords): book b reads the window
  *    `[b*dim, (b+1)*dim)` and keys `|c|² − 2·dot` (|v-c|² minus the
  *    per-row constant |v|²); elements past the last window are
  *    ignored.
  *
  * The dot is a left-to-right double sum, as in [[DotProduct]]. A
  * book's key is NULL when the vector is null, too short (cosine: not
  * exactly `dim`) or has a null element in the window; keys order as
  * Spark orders a nullable double ascending — NULL first, NaN last,
  * -0.0 equal to 0.0 — and ties go to the lower word id. This is the
  * order the Column form `least(struct(key, id), ...)` produced, bit
  * for bit.
  */
final class CentroidBooks(val m: Int, val k: Int, val dim: Int,
    val words: Array[Float], val cosine: Boolean) extends Serializable {

  require(m >= 1 && k >= 1 && dim >= 0, s"bad books: m=$m k=$k dim=$dim")
  require(words.length == m * k * dim, s"words length ${words.length} != m*k*dim ${m * k * dim}")
  require(!cosine || m == 1, "cosine cells are a single book")

  // per word: |c| (cosine) or |c|² (euclidean), squares summed left to right
  private val scale: Array[Double] = Array.tabulate(m * k) { w =>
    var acc = 0.0; var i = 0
    while (i < dim) { val x = words(w * dim + i).toDouble; acc += x * x; i += 1 }
    if (cosine) math.sqrt(acc) else acc
  }

  /** Whether book b's key is non-NULL for `v`. */
  private def present(v: ArrayData, b: Int): Boolean = v != null && {
    val n = v.numElements()
    val off = b * dim
    (if (cosine) n == dim else n >= off + dim) && {
      var i = off
      while (i < off + dim && !v.isNullAt(i)) i += 1
      i == off + dim
    }
  }

  /** Key of word j of book b. NULL is encoded as -Infinity: in one row
    * either every key is non-NULL or every key is NULL except the
    * zero-norm cells' MaxValue, so the encoding never meets a real key.
    */
  private def key(v: ArrayData, b: Int, j: Int, p: Boolean): Double = {
    val w = b * k + j
    if (cosine && scale(w) == 0.0) Double.MaxValue
    else if (!p) Double.NegativeInfinity
    else {
      val base = w * dim; val off = b * dim
      var acc = 0.0; var i = 0
      while (i < dim) { acc += v.getFloat(off + i).toDouble * words(base + i).toDouble; i += 1 }
      if (cosine) -acc / scale(w) else scale(w) - 2.0 * acc
    }
  }

  // strict Spark ascending order on non-NULL doubles: NaN last, -0.0 == 0.0
  private def before(a: Double, b: Double): Boolean = !a.isNaN && (b.isNaN || a < b)

  /** Id of the word of book b nearest to `v` (null allowed). */
  def nearest(v: ArrayData, b: Int): Int = {
    val p = present(v, b)
    var best = 0; var bestKey = key(v, b, 0, p); var j = 1
    while (j < k) {
      val kj = key(v, b, j, p)
      if (before(kj, bestKey)) { best = j; bestKey = kj }
      j += 1
    }
    best
  }

  /** The n nearest word ids of every book, nearest first, book-major. */
  def nearestIds(v: ArrayData, n: Int): Array[Int] = {
    val out = new Array[Int](m * n)
    val keys = new Array[Double](k)
    val taken = new Array[Boolean](k)
    var b = 0
    while (b < m) {
      if (n == 1) out(b) = nearest(v, b)
      else {
        val p = present(v, b)
        var j = 0
        while (j < k) { keys(j) = key(v, b, j, p); taken(j) = false; j += 1 }
        var r = 0
        while (r < n) {
          var best = -1; j = 0
          while (j < k) {
            if (!taken(j) && (best < 0 || before(keys(j), keys(best)))) best = j
            j += 1
          }
          taken(best) = true
          out(b * n + r) = best
          r += 1
        }
      }
      b += 1
    }
    out
  }

  override def toString: String =
    s"books(m=$m, k=$k, dim=$dim, ${if (cosine) "cosine" else "euclidean"})"
}

object CentroidBooks {
  /** Books from `[book][word][i]` arrays (every word `dim` long). */
  def apply(books: Seq[Array[Array[Float]]], cosine: Boolean): CentroidBooks = {
    require(books.nonEmpty && books.head.nonEmpty, "need at least one book of one word")
    val (k, dim) = (books.head.length, books.head.head.length)
    require(books.forall(b => b.length == k && b.forall(_.length == dim)),
      s"every book must hold $k words of $dim floats")
    new CentroidBooks(books.length, k, dim, books.flatMap(_.iterator.flatten).toArray, cosine)
  }
}

/** Nearest-centroid ids of a float-vector column under [[CentroidBooks]]:
  * `scalar` returns book 0's nearest id as an int (IVF `cell`);
  * otherwise an array<int> of the `topN` nearest ids per book,
  * book-major (PQ codes with topN = 1, IVF multi-assignment with
  * m = 1). Never NULL: a NULL key sorts first, so a null vector maps
  * to the lowest id, as the Column form did. The model rides in the
  * plan (serialized to executors with it) and codegen makes one call
  * into the shared kernel per row.
  */
case class NearestCentroid(child: Expression, books: CentroidBooks, topN: Int, scalar: Boolean)
    extends UnaryExpression with ExpectsInputTypes {

  require(topN >= 1 && topN <= books.k, s"topN must be in [1, ${books.k}], got $topN")
  require(!scalar || (topN == 1 && books.m == 1), "a scalar id needs one book and topN = 1")

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType =
    if (scalar) IntegerType else ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "nearest_centroid"

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input).asInstanceOf[ArrayData]
    if (scalar) books.nearest(v, 0)
    else UnsafeArrayData.fromPrimitiveArray(books.nearestIds(v, topN))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("books", books, classOf[CentroidBooks].getName)
    val c = child.genCode(ctx)
    val v = s"(${c.isNull} ? null : ${c.value})"
    val call = if (scalar) s"$b.nearest($v, 0)"
      else s"${classOf[UnsafeArrayData].getName}.fromPrimitiveArray($b.nearestIds($v, $topN))"
    ev.copy(isNull = FalseLiteral, code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $call;
      |""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NearestCentroid {
  /** Column API: see [[NearestCentroid]]. */
  def apply(v: Column, books: CentroidBooks, topN: Int, scalar: Boolean): Column =
    ExpressionUtils.column(NearestCentroid(ExpressionUtils.expression(v), books, topN, scalar))
}
