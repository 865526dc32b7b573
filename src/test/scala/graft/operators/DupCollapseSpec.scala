package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkTestBase

/** DupCollapse must be output-INVISIBLE: the collapsed pair pipelines
  * (winnowPairs, jaccardPairs) produce row-identical results to the
  * raw per-document pair stage they replaced. The oracle here is the
  * raw pipeline itself, run over corpora with exact-duplicate cliques
  * (the amplified bench's shape), singletons, empty and null sets.
  */
class DupCollapseSpec extends SparkTestBase {

  private val setSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", ArrayType(StringType), nullable = true)))

  private def setsDf(rows: Seq[(Long, Seq[String])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, s) => Row(i, s) }, 4),
      setSchema)

  test("collapse groups identical sets; order-insensitive; null and empty form groups") {
    val df = setsDf(Seq(
      1L -> Seq("a", "b"), 2L -> Seq("b", "a"),   // same SET, different order
      3L -> Seq("a", "b", "c"),
      4L -> Seq.empty[String], 5L -> Seq.empty[String],
      6L -> null, 7L -> null,
      8L -> Seq("z")))
    val c = DupCollapse.collapse(df, "id", "s")
    val groups = c.groups.collect().map(r =>
      (r.getAs[Long]("gid"), Option(r.getAs[Seq[String]]("key")),
        r.getAs[Long]("m"), r.getAs[Int]("n"))).toSet
    assert(groups === Set(
      (1L, Some(Seq("a", "b")), 2L, 2),
      (3L, Some(Seq("a", "b", "c")), 1L, 3),
      (4L, Some(Seq.empty[String]), 2L, 0),
      (6L, None, 2L, -1),
      (8L, Some(Seq("z")), 1L, 1)))
    val members = c.members.collect().map(r =>
      (r.getAs[Long]("gid"), r.getAs[Long]("id"))).toSet
    assert(members === Set((1L, 1L), (1L, 2L), (3L, 3L), (4L, 4L), (4L, 5L),
      (6L, 6L), (6L, 7L), (8L, 8L)))
  }

  test("withinPairs emits every unordered member pair once, da < db, with gid and n") {
    val df = setsDf(Seq(
      1L -> Seq("a"), 5L -> Seq("a"), 3L -> Seq("a"),  // 3-clique
      2L -> Seq("b"), 9L -> Seq("b"),                   // 2-clique
      7L -> Seq("c")))                                  // singleton
    val c = DupCollapse.collapse(df, "id", "s")
    val got = DupCollapse.withinPairs(c.members, cap = 2) // cap forces the block path
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
        r.getAs[Long]("gid"), r.getAs[Int]("n"))).toSet
    assert(got === Set((1L, 3L, 1L, 1), (1L, 5L, 1L, 1), (3L, 5L, 1L, 1),
      (2L, 9L, 2L, 1)))
  }

  test("expandPairs cross-products members, restores da < db, swaps side-tied stats") {
    val df = setsDf(Seq(
      10L -> Seq("x"), 40L -> Seq("x"),   // group A = {10, 40}, gid 10
      20L -> Seq("y", "z")))              // group B = {20},     gid 20
    val c = DupCollapse.collapse(df, "id", "s")
    val repPairs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(10L, 20L, 1, 2))),
      StructType(Seq(StructField("ga", LongType, false), StructField("gb", LongType, false),
        StructField("na", IntegerType, false), StructField("nb", IntegerType, false))))
    val got = DupCollapse.expandPairs(repPairs, c.members, swap = Seq(("na", "nb")))
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"),
        r.getAs[Int]("na"), r.getAs[Int]("nb"))).toSet
    // (10, 20): forward — na stays with da's group A; (40, 20) flips to
    // (20, 40): da is now group B's member, so na must be B's stat
    assert(got === Set((10L, 20L, 1, 2), (20L, 40L, 2, 1)))
  }

  /** a duplicate-heavy corpus: base docs from testdata sf0.001 texts,
    * replicated into exact cliques with shifted ids (the amplified
    * bench's construction), plus short/empty docs.
    */
  private def cliqueDocs(x: Int): DataFrame = {
    // orderBy before limit: an unordered limit is re-evaluated
    // independently in the raw and collapsed subtrees of the equality
    // asserts and is not guaranteed to pick the same 60 docs twice
    val base = graft.queries.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).orderBy(col("doc_id")).limit(60)
    val shift = 1000000L
    (0 until x).map(k => base.withColumn("doc_id", col("doc_id") + lit(k * shift)))
      .reduce(_ union _)
  }

  private def toks(c: org.apache.spark.sql.Column) = graft.queries.Tables.tokens(c)

  test("collapsed winnow pair stage is row-identical to the raw per-doc pair stage") {
    val docs = cliqueDocs(4)
    val fps = docs.select(col("doc_id"),
      org.apache.spark.sql.graftfns.TextFunctions
        .winnowFingerprints(toks(col("text")), 3, 4).as("fps"))
    // raw oracle: explode every doc, pair within fp, count
    val raw = KeyedPairs.pairs(
        fps.select(col("doc_id"), explode(col("fps")).as("fp")),
        Seq("fp"), col("doc_id"), 1024)
      .select(col("pa").as("da"), col("pb").as("db"))
      .groupBy(col("da"), col("db")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    // collapsed: the winnowPairs construction over the same fps
    val c = DupCollapse.collapse(fps, "doc_id", "fps")
    val within = DupCollapse.withinPairs(c.members, 1024)
      .filter(col("n") >= 3)
      .select(col("da"), col("db"), col("n").cast("long").as("shared"))
    val repPairs = KeyedPairs.pairs(
        c.groups.filter(col("n") > 0)
          .select(col("gid").as("doc_id"), explode(col("key")).as("fp")),
        Seq("fp"), col("doc_id"), 1024)
      .select(col("pa").as("ga"), col("pb").as("gb"))
      .groupBy(col("ga"), col("gb")).agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    val collapsed = within.unionByName(DupCollapse.expandPairs(repPairs, c.members))
    assert(raw.exceptAll(collapsed).isEmpty && collapsed.exceptAll(raw).isEmpty,
      s"raw=${raw.count()} collapsed=${collapsed.count()} " +
        s"rawOnly=${raw.exceptAll(collapsed).count()} colOnly=${collapsed.exceptAll(raw).count()}")
    // the cliques make the pair graph non-trivial
    assert(raw.count() >= 6L * 4 * 3 / 2, "clique corpus must produce within-clique pairs")
  }

  test("randomized: collapsed jaccard graph ≡ raw on corpora with random duplication") {
    // 6 seeded corpora over a 12-token universe: heavy set collisions,
    // empty and null sets, random clique sizes, scattered ids — the
    // collapse must be output-invisible on ALL of them
    for (seed <- 0 until 6) {
      val rnd = new scala.util.Random(seed)
      val nBase = 12 + rnd.nextInt(10)
      val sets = (0 until nBase).map { _ =>
        (0 until rnd.nextInt(6)).map(_ => s"t${rnd.nextInt(12)}").distinct
      }
      val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[String])]()
      var id = 0L
      sets.foreach { s0 =>
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          id += 1 + rnd.nextInt(7)
          rows += ((id, if (s0.isEmpty && rnd.nextBoolean()) null else s0))
        }
      }
      val df = setsDf(rnd.shuffle(rows.toSeq))
      val thresh = 0.3
      val ex = df.filter(size(col("s")) > 0)
        .select(col("id"), size(col("s")).as("n"), explode(col("s")).as("t"))
      val raw = KeyedPairs.pairs(ex, Seq("t"), struct(col("id"), col("n")), 64)
        .select(col("pa.id").as("da"), col("pa.n").as("na"),
          col("pb.id").as("db"), col("pb.n").as("nb"))
        .groupBy(col("da"), col("db"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("j", col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")))
        .filter(col("j") >= thresh)
        .select(col("da"), col("db"), col("shared"), col("j"))
      val c = DupCollapse.collapse(df, "id", "s")
      val within = DupCollapse.withinPairs(c.members, 64)
        .select(col("da"), col("db"), col("n").cast("long").as("shared"),
          lit(1.0).as("j"))
      val rex = c.groups.filter(col("n") > 0)
        .select(col("gid").as("id"), col("n"), explode(col("key")).as("t"))
      val rp = KeyedPairs.pairs(rex, Seq("t"), struct(col("id"), col("n")), 64)
        .select(col("pa.id").as("ga"), col("pa.n").as("na"),
          col("pb.id").as("gb"), col("pb.n").as("nb"))
        .groupBy(col("ga"), col("gb"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("j", col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")))
        .filter(col("j") >= thresh)
        .drop("na", "nb")
      val coll = within.unionByName(
        DupCollapse.expandPairs(rp, c.members)
          .select(col("da"), col("db"), col("shared"), col("j")))
      val onlyRaw = raw.exceptAll(coll).count()
      val onlyColl = coll.exceptAll(raw).count()
      assert(onlyRaw == 0 && onlyColl == 0,
        s"seed=$seed: rawOnly=$onlyRaw collOnly=$onlyColl")
    }
  }

  test("multiset input raises loudly instead of corrupting pair stats; collapseExact accepts it") {
    val bad = setsDf(Seq(1L -> Seq("a", "b", "a"), 2L -> Seq("a", "b")))
    val ex = intercept[Exception] {
      DupCollapse.collapse(bad, "id", "s").groups.collect()
    }
    assert(ex.getMessage.contains("repeated elements") ||
      Option(ex.getCause).exists(_.getMessage.contains("repeated elements")),
      s"guard must name the violation: ${ex.getMessage}")
    // the verbatim-key path makes no set assumption — multisets are legal
    val ok = DupCollapse.collapseExact(bad, "id", "s")
    assert(ok.groups.count() === 2)
    // and distinct-element inputs still collapse exactly as before
    val good = setsDf(Seq(1L -> Seq("a", "b"), 2L -> Seq("b", "a")))
    assert(DupCollapse.collapse(good, "id", "s").groups.count() === 1)
  }

  test("collapseExact groups bitwise-equal vectors only; zero-norm within pairs gate out") {
    import graft.queries.LlmQueries.{dotd, l2}
    val schema = StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("v", ArrayType(FloatType), true)))
    val rows = Seq(
      Row(1L, Seq(1.0f, 2.0f)), Row(2L, Seq(1.0f, 2.0f)),   // dup clique
      Row(3L, Seq(2.0f, 1.0f)),                             // same MULTISET, different vector
      Row(4L, Seq(0.0f, 0.0f)), Row(5L, Seq(0.0f, 0.0f)))   // zero-norm clique
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val c = DupCollapse.collapseExact(df, "vec_id", "v")
    val gids = c.groups.collect().map(_.getAs[Long]("gid")).toSet
    assert(gids === Set(1L, 3L, 4L), "sorted-multiset equality must NOT merge 3 into 1's group")
    // the q60 within gate: cos(v, v) >= thresh with the ANSI-safe
    // zero-norm guard (the exact reference graph excludes nrm = 0)
    def gate(g: DataFrame) = g.filter(
      when(l2(col("key")) > 0,
        (dotd(col("key"), col("key")) / (l2(col("key")) * l2(col("key")))) >= 0.4)
        .otherwise(lit(false)))
    val ok = gate(c.groups).collect().map(_.getAs[Long]("gid")).toSet
    assert(ok === Set(1L, 3L), "zero-norm group must not pass the cos gate")
    val within = DupCollapse.withinPairs(c.members, 16)
      .join(gate(c.groups).select(col("gid")), Seq("gid"), "left_semi")
      .collect().map(r => (r.getAs[Long]("da"), r.getAs[Long]("db"))).toSet
    assert(within === Set((1L, 2L)))
  }

  test("q63/q27/q46 production queries match their shape on sf0.001 after the collapse") {
    val d = "/root/testdata/sf0.001"
    val q63 = graft.SparkEntry.queries("q63_winnow_fingerprints")(spark, d)
    assert(q63.columns.toSeq === Seq("da", "db", "shared"))
    val rows = q63.collect()
    assert(rows.sortBy(r => (r.getLong(0), r.getLong(1))).toSeq === rows.toSeq,
      "q63 must stay ordered by (da, db)")
    val q27 = graft.SparkEntry.queries("q27_ngram_jaccard")(spark, d)
    assert(q27.columns.toSeq === Seq("da", "db", "jaccard"))
    assert(q27.count() > 0)
    val q46 = graft.SparkEntry.queries("q46_dedup_clusters")(spark, d)
    assert(q46.count() > 0, "the ConnectedComponents consumer of the collapsed graph must run")
  }

  test("q30 collapsed top-20 ≡ raw all-pairs top-20 on a duplicate-amplified corpus") {
    import graft.queries.LlmQueries.l2
    import graft.queries.Tables.rk
    // ×3-clique amplification of the sf0.001 embeddings: every vector
    // appears under 3 ids, so the top-20 is dominated by exact-dup
    // pairs (cos 1.0 ties) — the case where the collapse's candidate
    // logic has to reproduce the raw (cos desc, va, vb) tie order.
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).limit(40)
    val maxId = base.agg(max(col("vec_id"))).head().getLong(0)
    val amp = (0 until 3).map(i =>
      base.select((col("vec_id") + lit(i * (maxId + 1))).as("vec_id"), col("embedding")))
      .reduce(_ unionByName _)
    val dir = java.nio.file.Files.createTempDirectory("dupq30").toString
    amp.write.parquet(s"$dir/embeddings.parquet")
    val e = amp.withColumn("nrm", l2(col("embedding")))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    val raw = KeyedPairs.allPairsGrouped(e, payload, cap = 256, e.count())
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .topDotPairs(col("as_"), col("bs"), col("bi") === col("bj"), 20)).as("pr"))
      .select(col("pr.va").as("va"), col("pr.vb").as("vb"), col("pr.cos").as("cos"))
      .orderBy(col("cos").desc, col("va"), col("vb")).limit(20)
      .select(col("va"), col("vb"), rk(col("cos"), 6).as("cosine"))
      .collect().toSeq
    val got = graft.SparkEntry.queries("q30_embed_neardup")(spark, dir).collect().toSeq
    assert(got === raw)
  }

  test("q30 collapsed ≡ raw when EVERY pair ties on cos (scaled duplicates)") {
    import graft.queries.LlmQueries.l2
    import graft.queries.Tables.rk
    // power-of-two scalings of one base vector: every pairwise cos is
    // the SAME double bit pattern (scaling by 2^k is exact for the
    // dot, the norms, and the division), so all 55 member pairs tie
    // and the top-20 is decided purely by the (va, vb) tiebreak — the
    // regime where the per-task rep heap must agree with the global
    // member order. Two dup groups with far-apart member ids stress
    // the rep-id-vs-member-id distinction.
    val v = Seq(1.5f, 2.25f, 0.5f, 3.0f)
    val rows = (Seq(0L -> 0, 9000L -> 0) ++ (1 to 7).map(i => i.toLong -> i) ++
        Seq(8L -> 8, 8000L -> 8))
      .map { case (id, p) => Row(id, v.map(x => (x * (1 << p)).toFloat)) }
    val schema = StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType), true)))
    val amp = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
    val dir = java.nio.file.Files.createTempDirectory("dupq30t").toString
    amp.write.parquet(s"$dir/embeddings.parquet")
    val e = amp.withColumn("nrm", l2(col("embedding")))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    val raw = KeyedPairs.allPairsGrouped(e, payload, cap = 256, e.count())
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .topDotPairs(col("as_"), col("bs"), col("bi") === col("bj"), 20)).as("pr"))
      .select(col("pr.va").as("va"), col("pr.vb").as("vb"), col("pr.cos").as("cos"))
      .orderBy(col("cos").desc, col("va"), col("vb")).limit(20)
      .select(col("va"), col("vb"), rk(col("cos"), 6).as("cosine"))
      .collect().toSeq
    // sanity: the construction really does tie everything
    assert(raw.map(_.getDouble(2)).distinct.size === 1)
    val got = graft.SparkEntry.queries("q30_embed_neardup")(spark, dir).collect().toSeq
    assert(got === raw)
  }
}
