package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** KeyedPairs must emit exactly the brute-force pair multiset whether a
  * bucket expands in-row (f ≤ cap) or through the bounded block-pair
  * path (f > cap) — the hot-key scale fix must be invisible to
  * results.
  */
class KeyedPairsSpec extends SparkTestBase {
  import spark.implicits._

  /** brute force: all unordered id pairs per key, one row per (key, pair) */
  private def brute(rows: Seq[(String, Long)]): Seq[(Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (_, ms) =>
      val ids = ms.map(_._2).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
    }

  // one hot key (60 members), some warm keys, many singletons
  private val rows: Seq[(String, Long)] =
    (0L until 60L).map(("hot", _)) ++
      (100L until 105L).map(("warm1", _)) ++
      Seq(("warm2", 200L), ("warm2", 201L)) ++
      (300L until 340L).map(i => (s"single$i", i))

  private def run(cap: Int): Seq[(Long, Long)] = {
    val df = rows.toDF("k", "id")
    KeyedPairs.pairs(df, Seq("k"), col("id"), cap)
      .select(col("pa").cast("long"), col("pb").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
  }

  test("in-row path (cap > all bucket sizes) matches brute force") {
    assert(run(cap = 1000).sorted == brute(rows).sorted)
  }

  test("block path (cap = 7 forces the hot key through block pairs) matches brute force") {
    val got = run(cap = 7)
    assert(got.sorted == brute(rows).sorted)
    assert(got.forall { case (a, b) => a < b })
  }

  test("cap = 2 (every key with f>2 blocked, nb up to 30) still exact") {
    assert(run(cap = 2).sorted == brute(rows).sorted)
  }

  test("allPairs matches brute force over the whole table, any cap") {
    val ids = (0L until 50L) ++ (200L until 210L)
    val expected = (for (i <- ids.indices; j <- (i + 1) until ids.size)
      yield (math.min(ids(i), ids(j)), math.max(ids(i), ids(j)))).sorted
    val df = ids.toDF("id")
    for (cap <- Seq(2, 7, 1000)) {
      val got = KeyedPairs.allPairs(df, col("id"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == expected, s"cap=$cap")
    }
  }

  test("caller key columns named like internals (blk, f, nb) survive the hot path") {
    // q29 keys on a column literally named "blk" — the operator's
    // working columns must never capture it. A collision drops every
    // cross-block pair of a hot bucket silently (regression: internal
    // withColumn("blk", ...) replaced the caller's grouping key).
    for (key <- Seq("blk", "f", "nb", "bi", "isA")) {
      val renamed = rows.toDF(key, "id")
      val got = KeyedPairs.pairs(renamed, Seq(key), col("id"), cap = 7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == brute(rows).sorted, s"key column named '$key'")
    }
    // and the reserved prefix is rejected loudly
    val e = intercept[IllegalArgumentException] {
      KeyedPairs.pairs(rows.toDF("__kp_f", "id"), Seq("__kp_f"), col("id"), 7)
    }
    assert(e.getMessage.contains("__kp_"))
  }

  test("NULL-key buckets above and below cap match brute force") {
    // a NULL key is a bucket like any other: the over-cap ones must
    // reach the block-pair arm (an equi-join routing drops them
    // silently), the small one the in-row arm
    val keyed: Seq[((String, String), Long)] =
      (400L until 420L).map(id => ((null: String, "big"), id)) ++         // f = 20
      (500L until 503L).map(id => (("x", null: String), id)) ++           // f = 3
      (600L until 610L).map(id => ((null: String, null: String), id)) ++  // f = 10
      rows.map { case (k, id) => ((k, "a"), id) }
    val expected = brute(keyed.map { case (k, id) => (k.toString, id) }).sorted
    val df = keyed.map { case ((a, b), id) => (a, b, id) }.toDF("k1", "k2", "id")
    for (cap <- Seq(2, 7, 1000)) {
      val got = KeyedPairs.pairs(df, Seq("k1", "k2"), col("id"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == expected, s"cap=$cap")
    }
  }

  test("pairs sharing several keys appear once per key") {
    val df = Seq(("k1", 1L), ("k1", 2L), ("k2", 1L), ("k2", 2L)).toDF("k", "id")
    val got = KeyedPairs.pairs(df, Seq("k"), col("id"), cap = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 2L), (1L, 2L)))
  }

  test("struct payloads order by first field and carry extras through") {
    val df = Seq(("k", 5L, "x"), ("k", 3L, "y"), ("k", 9L, "z")).toDF("k", "id", "tag")
    val got = KeyedPairs.pairs(df, Seq("k"), struct(col("id"), col("tag")), cap = 2)
      .select(col("pa.id"), col("pa.tag"), col("pb.id"), col("pb.tag"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == Set((3L, "y", 5L, "x"), (3L, "y", 9L, "z"), (5L, "x", 9L, "z")))
  }

  test("pairsPresized matches pairs() at every cap when sizes are exact") {
    // the presized route (caller-known bucket sizes, round 18) must be
    // result-identical to the counting route: same pair multiset, same
    // pa < pb order, both routing paths (f <= cap in-row, f > cap
    // block-split) exercised by the hot key at small caps
    val df = rows.toDF("k", "id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val sized = df.withColumn("f", count(lit(1)).over(w))
    for (cap <- Seq(2, 7, 1000)) {
      val got = KeyedPairs.pairsPresized(sized, Seq("k"), col("f"), col("id"), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got.sorted == brute(rows).sorted, s"cap=$cap")
      assert(got.forall { case (a, b) => a < b }, s"cap=$cap pair order")
    }
  }

  test("pairsPresized plans no eager job and no broadcast routing join") {
    // the whole point of the presized route: routing is a map-side
    // filter on the carried size — building the DataFrame must launch
    // ZERO jobs (pairs() runs its hot-key collect eagerly) and the
    // plan must contain no broadcast routing joins
    val df = rows.toDF("k", "id")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
    val sized = df.withColumn("f", count(lit(1)).over(w))
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val pp = KeyedPairs.pairsPresized(sized, Seq("k"), col("f"), col("id"), 7)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "pairsPresized must not run eager jobs at build")
    val plan = pp.queryExecution.optimizedPlan.toString
    assert(!plan.toLowerCase.contains("broadcast"),
      s"presized routing must not join against a collected hot list:\n$plan")
  }

  test("pairs() plans no eager job and no driver-collected routing list") {
    // round 19: the generic path routes in ONE bounded-collect
    // aggregation — building the DataFrame must launch ZERO jobs
    // (rounds 2–18 ran an eager hot-key counting job + driver collect
    // per invocation), and the only broadcast allowed is the lazy
    // in-plan hot-list aggregate (never a collected LocalRelation,
    // which is what the old driver-side route produced)
    val df = rows.toDF("k", "id")
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    val pp = KeyedPairs.pairs(df, Seq("k"), col("id"), 7)
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(after == before, "pairs() must not run eager jobs at build")
    val plan = pp.queryExecution.optimizedPlan.toString
    // the old route's collected hot list surfaced as a LocalRelation
    // carrying the internal size column; the in-plan route derives the
    // hot list from the bounded-collect aggregate instead
    assert(!plan.contains("LocalRelation [__kp_"),
      s"routing must not embed a driver-collected hot list:\n$plan")
    assert(plan.contains("bounded_collect"),
      s"routing must ride the single bounded-collect aggregation:\n$plan")
  }

  test("a corpus where EVERY key is over-cap routes in-plan — no hot-key ceiling") {
    // 40 keys, each with 3 members (> cap=2): the pre-round-19 route
    // collected the over-cap keys to the driver and failed loudly past
    // a hot-key ceiling; the bounded-collect route keeps only (key, count)
    // per hot key, so ANY number of hot keys routes correctly
    val df = (0 until 40).flatMap(key => (0 until 3).map(m => (s"k$key", key * 10L + m)))
      .toDF("k", "id")
    val got = KeyedPairs.pairs(df, Seq("k"), struct(col("id")), cap = 2)
    assert(got.count() == 40L * 3)  // 3 members -> 3 unordered pairs per key
  }

  test("pairsPresized fails loudly on a NULL size instead of dropping the row") {
    val df = Seq(("k", 1L, java.lang.Long.valueOf(2L)),
      ("k", 2L, null.asInstanceOf[java.lang.Long])).toDF("k", "id", "f")
    val e = intercept[Exception] {
      KeyedPairs.pairsPresized(df, Seq("k"), col("f"), col("id"), 7).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("sizeCol is NULL")),
      s"expected the loud NULL-size diagnostic, got: ${messages(e).mkString(" | ")}")
  }
}
