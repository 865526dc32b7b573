package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftfns.PairFunctions
import graft.SparkTestBase

/** TopDotPairs (fused per-task scoring + top-k) vs the unfused
  * pair-explode + dot + global rank form it replaces: the global
  * top-k must be IDENTICAL, including tie order, on random inputs.
  */
class PairExprSpec extends SparkTestBase {
  import spark.implicits._

  private def randVecs(seed: Int, n: Int, dim: Int): Seq[(Long, Seq[Float])] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rng.nextFloat() * 2 - 1)))
  }

  private def topK(vecs: Seq[(Long, Seq[Float])], k: Int, cap: Int): Seq[(Long, Long, Double)] = {
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", LlmQueries.l2(col("embedding")))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    graft.operators.KeyedPairs.allPairsGrouped(e, payload, cap, e.count())
      .select(explode(PairFunctions.topDotPairs(
        col("as_"), col("bs"), col("bi") === col("bj"), k)).as("pr"))
      .select(col("pr.va"), col("pr.vb"), col("pr.cos"))
      .orderBy(col("cos").desc, col("va"), col("vb")).limit(k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  private def topKUnfused(vecs: Seq[(Long, Seq[Float])], k: Int, cap: Int): Seq[(Long, Long, Double)] = {
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", LlmQueries.l2(col("embedding")))
    val payload = struct(col("vec_id"), col("embedding"), col("nrm"))
    graft.operators.KeyedPairs.allPairs(e, payload, cap)
      .select(col("pa.vec_id").as("va"), col("pb.vec_id").as("vb"),
        (LlmQueries.dotd(col("pa.embedding"), col("pb.embedding")) /
          (col("pa.nrm") * col("pb.nrm"))).as("cos"))
      .orderBy(col("cos").desc, col("va"), col("vb")).limit(k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
  }

  test("fused top-k equals the unfused pair-explode form bit-for-bit") {
    for (seed <- 1 to 3; cap <- Seq(8, 64)) {
      val vecs = randVecs(seed, 120, 16)
      assert(topK(vecs, 20, cap) == topKUnfused(vecs, 20, cap),
        s"seed=$seed cap=$cap")
    }
  }

  test("small inputs: fewer pairs than k, single block, duplicate cosines") {
    // 3 vectors -> 3 pairs < k; identical vectors -> tied cosines must
    // order by (va, vb)
    val vecs = Seq((0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)), (2L, Seq(1f, 0f)))
    val got = topK(vecs, 20, cap = 8)
    assert(got.map(t => (t._1, t._2)) == Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(got.forall(t => math.abs(t._3 - 1.0) < 1e-9))
  }

  test("mismatched-dimension and zero vectors: skipped, never a crash or a winner") {
    // the UNFUSED form throws DIVIDE_BY_ZERO under ANSI on a zero-norm
    // vector; the fused expression deliberately SKIPS directionless
    // vectors instead (scaladoc'd divergence) — ragged vectors pair
    // with nothing in both forms
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(1f, 0f, 0f)),   // ragged
      (3L, Seq(0f, 0f)))       // zero norm
    intercept[Exception] { topKUnfused(vecs, 3, cap = 8) }   // ANSI crash
    val fused = topK(vecs, 3, cap = 8)
    assert(fused.map(t => (t._1, t._2)) == Seq((0L, 1L)))
    assert(math.abs(fused.head._3 - 1.0) < 1e-9)
  }

  test("empty cross block emits NOTHING — diag comes from the flag, not from bs") {
    // the bug this pins: a cross block-pair group whose right block got
    // no rows also has an empty bs; inferring 'diagonal' from emptiness
    // re-emits the left block's internal pairs (duplicates in the
    // output). Both fused expressions take diag explicitly now.
    val e = Seq((0L, Seq(1f, 0f)), (1L, Seq(1f, 0.1f)), (2L, Seq(1f, 0.2f)))
      .toDF("vec_id", "embedding")
      .withColumn("nrm", LlmQueries.l2(col("embedding")))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    val row = e.agg(collect_list(payload).as("all")).select(
      PairFunctions.topDotPairs(col("all"),
        expr("CAST(array() AS array<struct<id:bigint,embedding:array<float>,nrm:double>>)"),
        lit(false), 10).as("cross_empty"),
      PairFunctions.topDotPairs(col("all"),
        expr("CAST(array() AS array<struct<id:bigint,embedding:array<float>,nrm:double>>)"),
        lit(true), 10).as("diag"),
      PairFunctions.pairExpand(col("all"),
        expr("CAST(array() AS array<struct<id:bigint,embedding:array<float>,nrm:double>>)"),
        lit(false)).as("pe_cross_empty")).head()
    assert(row.getSeq[Any](0).isEmpty, "cross group with empty bs must emit nothing")
    assert(row.getSeq[Any](1).size == 3, "diagonal of 3 vectors = 3 pairs")
    assert(row.getSeq[Any](2).isEmpty, "PairExpand cross with empty bs must emit nothing")
  }

  test("ThresholdDotPairs equals the unfused pair+filter form as a set, any blocking") {
    for (seed <- 1 to 3; cap <- Seq(8, 64)) {
      val vecs = randVecs(seed, 120, 16)
      val thresh = 0.25
      val e = vecs.toDF("vec_id", "embedding")
        .withColumn("nrm", LlmQueries.l2(col("embedding")))
      val fused = {
        val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
        graft.operators.KeyedPairs.allPairsGrouped(e, payload, cap, e.count())
          .select(explode(PairFunctions.thresholdDotPairs(
            col("as_"), col("bs"), col("bi") === col("bj"), thresh)).as("pr"))
          .select(col("pr.va"), col("pr.vb"), col("pr.cos"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      }
      val unfused = {
        val payload = struct(col("vec_id"), col("embedding"), col("nrm"))
        graft.operators.KeyedPairs.allPairs(e, payload, cap)
          .select(col("pa.vec_id").as("va"), col("pb.vec_id").as("vb"),
            (LlmQueries.dotd(col("pa.embedding"), col("pb.embedding")) /
              (col("pa.nrm") * col("pb.nrm"))).as("cos"))
          .filter(col("cos") >= thresh)
          .collect().map(r =>
            (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1)),
              r.getDouble(2))).toSet
      }
      assert(fused == unfused, s"seed=$seed cap=$cap")
      assert(fused.forall(_._3 >= thresh))
      // orientation: fused emits va < vb directly
      assert(fused.forall(t => t._1 < t._2))
    }
  }

  test("ThresholdDotPairs skips ragged and zero-norm vectors like TopDotPairs") {
    val vecs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0f)),
      (2L, Seq(1f, 0f, 0f)),   // ragged
      (3L, Seq(0f, 0f)))       // zero norm
    val e = vecs.toDF("vec_id", "embedding")
      .withColumn("nrm", LlmQueries.l2(col("embedding")))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    val got = graft.operators.KeyedPairs.allPairsGrouped(e, payload, cap = 8, e.count())
      .select(explode(PairFunctions.thresholdDotPairs(
        col("as_"), col("bs"), col("bi") === col("bj"), 0.5)).as("pr"))
      .select(col("pr.va"), col("pr.vb")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 1L)))
  }

  test("PairExpand matches the interpreted expansion, incl. duplicates and ties") {
    // the pre-PairExpand interpreted forms, kept as the test oracle
    val rng = new scala.util.Random(53)
    val rows = (0 until 200).map { g =>
      // duplicate-heavy payloads: ids drawn from a tiny domain so equal
      // structs occur often (the y > x filter's equal-skip corner)
      val n = rng.nextInt(7)
      val m = rng.nextInt(7)
      val mk = () => (rng.nextInt(5).toLong, rng.nextInt(3))
      (g, Seq.fill(n)(mk()), Seq.fill(m)(mk()), rng.nextBoolean())
    }
    val df = rows.toDF("g", "as_", "bs", "diag")
      .select(col("g"),
        col("as_").cast("array<struct<id:bigint,n:int>>").as("as_"),
        col("bs").cast("array<struct<id:bigint,n:int>>").as("bs"), col("diag"))
    val interp = when(col("diag"),
      flatten(transform(col("as_"), x =>
        transform(filter(col("as_"), y => y > x),
          y => struct(x.as("pa"), y.as("pb"))))))
      .otherwise(flatten(transform(col("as_"), x =>
        transform(col("bs"), y =>
          when(x < y, struct(x.as("pa"), y.as("pb")))
            .otherwise(struct(y.as("pa"), x.as("pb")))))))
    val out = df.select(col("g"),
      PairFunctions.pairExpand(col("as_"), col("bs"), col("diag")).as("native"),
      interp.as("interp")).collect()
    out.foreach { r =>
      // MULTISET equality: emission order differs (positional i<j loop
      // vs x-major lambda iteration) and is irrelevant — every consumer
      // explodes the array into an aggregation
      def ms(i: Int) = r.getSeq[Any](i).map(_.toString).sorted
      assert(ms(1) == ms(2),
        s"g=${r.getInt(0)}: native=${r.getSeq[Any](1)} interp=${r.getSeq[Any](2)}")
    }
  }
}
