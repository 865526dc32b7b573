package graft.operators

import graft.SparkTestBase

class KMeansSpec extends SparkTestBase {
  import spark.implicits._

  // k = 1: all vectors in one cell — exercises the update arithmetic
  // directly, whatever the geometry
  private def train1(e: org.apache.spark.sql.DataFrame, iters: Int,
      seeds: Option[Array[Array[Float]]] = None): Array[Array[Float]] =
    KMeans.train(e, "id", "v", k = 1, iters = iters, m = 1, cosine = false, seeds = seeds).head

  test("single-cell update is the exact micro-quantized mean") {
    val e = Seq((0L, Seq(1.0f, 2.0f)), (1L, Seq(3.0f, 6.0f)))
      .toDF("id", "v")
    val cents = train1(e, iters = 1)
    assert(cents.length == 1)
    assert(math.abs(cents(0)(0) - 2.0f) < 1e-5 && math.abs(cents(0)(1) - 4.0f) < 1e-5)
  }

  test("empty input with caller-provided seeds returns the seeds unchanged") {
    // the overflow guard's max() aggregate is null on an empty table —
    // it must be skipped (no rows -> no overflow), not NPE
    val e = Seq.empty[(Long, Seq[Float])].toDF("id", "v")
    val seeds = Array(Array(1.0f, 2.0f))
    val cents = train1(e, iters = 2, seeds = Some(seeds))
    assert(cents.map(_.toSeq).toSeq == seeds.map(_.toSeq).toSeq)
  }

  test("all-empty vectors leave seeds unchanged instead of NPE in the guard") {
    val e = Seq((0L, Seq.empty[Float]), (1L, Seq.empty[Float])).toDF("id", "v")
    val seeds = Array(Array(5.0f))
    val cents = train1(e, iters = 1, seeds = Some(seeds))
    assert(cents.map(_.toSeq).toSeq == seeds.map(_.toSeq).toSeq)
  }

  test("inputs outside the exact-integer domain fail loudly, not wrap") {
    // |x| ~ 9.3e12: x*1e6 exceeds Long range. The domain guard's
    // require fires; an overflowing add in the pass would raise an
    // ArithmeticException. Either way: loud failure, never silent
    // centroid corruption.
    val e = Seq((0L, Seq(9.3e12f)), (1L, Seq(9.3e12f))).toDF("id", "v")
    val ex = intercept[Exception] {
      train1(e, iters = 1)
    }
    assert(ex.isInstanceOf[IllegalArgumentException] ||
      ex.getClass.getName.contains("Arithmetic"),
      s"unexpected failure mode: $ex")
  }
}
