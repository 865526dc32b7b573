package graft.queries

import org.apache.spark.sql.functions._
import graft.SparkTestBase

/** Cross-validation for the engine-hash-based queries that have no
  * DuckDB oracle (SURVEY.md §2.3 note): MinHash-LSH and SimHash are
  * checked against the exact-algorithm q27 ground truth; ANN against
  * the brute-force q25.
  */
class LlmQueriesSpec extends SparkTestBase {
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String) = LlmQueries.all(name)(spark, sf)

  test("q28 checked gate: per-pair lsh_ok and aggregate recall_ok hold (100% recall here)") {
    val exact = run("q27_ngram_jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val rows = run("q28_minhash_lsh").collect()
    assert(rows.nonEmpty, "fixture should contain planted near-dup pairs")
    // rows ARE the exact pair graph (the DuckDB-checkable reference)...
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet == exact)
    // ...the per-pair gate holds (planted pairs are deep in the
    // S-curve's ~1 region, so they are hard-gated, not waved through)
    rows.foreach(r => assert(r.getBoolean(3), s"LSH missed pair $r"))
    // ...and the aggregate recall gate holds
    rows.foreach(r => assert(r.getBoolean(4), "aggregate recall below scheme floor"))
  }

  test("exactCosPairs sampleMod slices to Lehmer-sampled endpoints of the full graph") {
    // the q60 gate-sampling mechanism: the sampled reference must be
    // EXACTLY the full exact graph restricted to sampled endpoints
    val m = 3L
    def sampled(id: Long): Boolean = ((id * 48271L) % 2147483647L) % m == 0
    val full = LlmQueries.exactCosPairs(spark, sf, 0.40).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val slice = LlmQueries.exactCosPairs(spark, sf, 0.40, sampleMod = m).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(slice == full.filter(p => sampled(p._1) && sampled(p._2)))
    assert(slice != full, "m=3 should actually shrink the graph at fixture scale")
  }

  test("lehmerSampled is a true Lehmer step for ids near 2^63 (pre-reduction)") {
    // the gate-sample slice must follow the published generator for ANY
    // 64-bit id: (id mod p) * 48271 mod p with p = 2^31-1, computed
    // here in BigInt so the reference cannot itself overflow
    val p = BigInt(2147483647L)
    val m = 7L
    val ids = Seq(0L, 1L, 96L, 2147483646L, 2147483647L, 2147483648L,
      (1L << 46) - 1, 1L << 46, (1L << 62) + 12345L,
      Long.MaxValue, Long.MaxValue - 1, Long.MaxValue - 48270L)
    val expect = ids.filter(id => (BigInt(id).mod(p) * 48271).mod(p) % m == 0)
    import spark.implicits._
    val got = ids.toDF("id").filter(LlmQueries.lehmerSampled(col("id"), m))
      .collect().map(_.getLong(0)).toSeq
    assert(got.sorted == expect.sorted,
      s"lehmerSampled diverged from the BigInt Lehmer reference: $got vs $expect")
    // and m == 1 keeps every id — the full-corpus degenerate case
    assert(ids.toDF("id").filter(LlmQueries.lehmerSampled(col("id"), 1L)).count() == ids.length)
  }

  test("staged text derivations persist: a fresh session reads the stage store") {
    val store = java.nio.file.Files.createTempDirectory("graft_stage").toString
    val prior = sys.props.put("graft.model.dir", store)
    try {
      // session 1 is FRESH (the suite's own session has warm in-memory
      // caches that would short-circuit the disk tier) — it finds an
      // empty store, derives, and commits the stages.
      val s1 = spark.newSession()
      val pairs1 = LlmQueries.all("q27_ngram_jaccard")(s1, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val fp = LlmQueries.documentsFingerprint(s1, sf)
      for (st <- Seq("stage_docToks", "stage_shingleSets", "stage_jaccardPairs_0.5")) {
        val dir = LlmQueries.modelStoreDir(sf, st)
        assert(dir.startsWith(store))
        assert(graft.operators.ModelIO.readManifest(s1, dir)
          .exists(_.get("fp").contains(fp)), s"$st not committed")
      }
      // a FRESH session must serve the staged store, reproducing the
      // derived result exactly
      val s2 = spark.newSession()
      val pairs2 = LlmQueries.all("q27_ngram_jaccard")(s2, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      assert(pairs2 == pairs1, "staged pair graph diverged from the derived one")
      // behavioral proof it READS the store rather than re-deriving
      // (plan-level probes are blinded by cache substitution): replace
      // the staged payload under a still-valid manifest — the next
      // fresh session must serve the replacement, not the corpus
      val tDir = LlmQueries.modelStoreDir(sf, "stage_docToks")
      s2.range(1).selectExpr("id AS doc_id", "array('x') AS toks")
        .write.mode("overwrite").parquet(s"$tDir/data")
      val s2b = spark.newSession()
      assert(LlmQueries.docToks(s2b, sf).count() == 1,
        "fresh session re-derived instead of reading the stage store")
      // stale store (corpus regenerated at the same path = fingerprint
      // mismatch): a fresh session must rebuild and re-commit — which
      // also heals the payload swapped in above
      val mf = graft.operators.ModelIO.readManifest(s2, tDir).get
      graft.operators.ModelIO.writeManifest(s2, tDir, mf + ("fp" -> "stale"))
      val s3 = spark.newSession()
      assert(LlmQueries.docToks(s3, sf).count() ==
        Tables.documents(s3, sf).count())
      assert(graft.operators.ModelIO.readManifest(s3, tDir)
        .exists(_.get("fp").contains(fp)),
        "stale stage was not re-committed with the current fingerprint")
    } finally {
      prior match {
        case Some(v) => sys.props.put("graft.model.dir", v)
        case None    => sys.props.remove("graft.model.dir")
      }
      ()
    }
  }

  test("q31's LSH ANN index persists: fresh sessions serve the store, stale fp rebuilds") {
    val store = java.nio.file.Files.createTempDirectory("graft_lshidx").toString
    val prior = sys.props.put("graft.model.dir", store)
    try {
      // fresh session derives the ×12-table index and commits it
      val s1 = spark.newSession()
      val r1 = LlmQueries.all("q31_ann_lsh")(s1, sf).collect().map(_.toString).toSeq
      val dir = LlmQueries.modelStoreDir(sf, "stage_lshann_t12_b10_s42")
      assert(dir.startsWith(store))
      val fp = LlmQueries.embeddingsFingerprint(s1, sf)
      assert(graft.operators.ModelIO.readManifest(s1, dir)
        .exists(_.get("fp").contains(fp)), "LSH index not committed")
      // a fresh session reproduces q31 exactly from the stored index
      val s2 = spark.newSession()
      assert(LlmQueries.all("q31_ann_lsh")(s2, sf).collect()
        .map(_.toString).toSeq == r1)
      // behavioral proof the store is READ, not re-derived: empty the
      // payload under the still-valid manifest — a fresh session's
      // probe then finds zero candidates
      s2.range(0).selectExpr("id AS vec_id",
          "CAST(1 AS int) AS tbl", "CAST(1 AS int) AS bucket")
        .write.mode("overwrite").parquet(s"$dir/data")
      val s2b = spark.newSession()
      assert(LlmQueries.annLshTopK(s2b, sf, tables = 12, bits = 10,
        radius = 2, seed = 42, k = 5).count() == 0,
        "fresh session rebuilt the index instead of reading the store")
      // stale fingerprint (corpus regenerated at the same path): a
      // fresh session rebuilds and re-commits — healing the empty
      // payload above; q31's recall gate holds on the rebuilt index
      val mf = graft.operators.ModelIO.readManifest(s2, dir).get
      graft.operators.ModelIO.writeManifest(s2, dir, mf + ("fp" -> "stale"))
      val s3 = spark.newSession()
      assert(LlmQueries.all("q31_ann_lsh")(s3, sf).collect()
        .map(_.toString).toSeq == r1)
      assert(graft.operators.ModelIO.readManifest(s3, dir)
        .exists(_.get("fp").contains(fp)),
        "stale index was not re-committed with the current fingerprint")
    } finally {
      prior match {
        case Some(v) => sys.props.put("graft.model.dir", v)
        case None    => sys.props.remove("graft.model.dir")
      }
      ()
    }
  }

  test("minhash recall is preserved across the corpus-derived banding schemes") {
    // verdict item: recall properties must hold across >=2 auto-chosen
    // configs. All three LshTuning schemes must recover the full
    // planted pair set after the exact confirm (their recall@s>=0.9,
    // where the planted pairs live, is >0.999 in the S-curve math).
    val exact = run("q27_ngram_jaccard").select("da", "db").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for (n <- Seq(1000L, 1000000L, 100000000L)) {
      val scheme = graft.operators.LshTuning.minhashScheme(n)
      val pairs = LlmQueries.minhashPairs(spark, sf, scheme)
        .select("da", "db").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs == exact, s"scheme $scheme missed ${exact -- pairs}")
    }
  }

  test("simhash pairs are symmetric-free, ordered, and hamming-bounded") {
    val rows = LlmQueries.simhashPairsAuto(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))        // da < db, no dup pairs
      assert(r.getInt(2) >= 0 && r.getInt(2) <= 3)
    }
  }

  test("simhash: every legal blocking finds the same hamming<=3 pairs (pigeonhole)") {
    // recall is GUARANTEED for any config with blocks - blocksPerKey
    // >= 3 and the confirm is exact, so all pair sets must be equal —
    // including the generalized block-combination configs
    val base = LlmQueries.simhashPairsAuto(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    for ((b, j) <- Seq((8, 1), (8, 2), (8, 3), (4, 1))) {
      val p = LlmQueries.simhashPairs(spark, sf, b, j).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(p == base, s"blocking ($b,$j) diverged: ${(p -- base) ++ (base -- p)}")
    }
  }

  test("q29 checked gate: one row, doc count matches, both booleans true") {
    val rows = run("q29_simhash").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == Tables.documents(spark, sf).count()) // all docs tokenize here
    assert(r.getBoolean(1), "pairs_valid gate failed")
    assert(r.getBoolean(2), "configs_agree gate failed")
  }

  test("ANN LSH returns <=k ranked candidates with valid cosines") {
    val ann = LlmQueries.annLshTopK(spark, sf, 12, 10, 2, 42, 5).collect()
    assert(ann.length <= 5)
    val cosines = ann.map(_.getDouble(1))
    assert(cosines.sameElements(cosines.sorted.reverse))   // ranked desc
    assert(cosines.forall(c => c >= -1.0001 && c <= 1.0001))
    // any ANN hit can't beat the true best
    val exact = LlmQueries.exactCosTopK(spark, sf, 5).collect().map(_.getDouble(1))
    if (ann.nonEmpty && exact.nonEmpty) assert(cosines.max <= exact.max + 1e-9)
  }

  test("q31/q42/q53 checked gates: rows are the exact top-5 and recall_ok holds") {
    val exact = run("q25_cosine_topk").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    for (q <- Seq("q31_ann_lsh", "q42_ann_ivf", "q53_ann_pq")) {
      val rows = run(q).collect()
      assert(rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq == exact,
        s"$q reference rows diverge from q25")
      rows.foreach(r => assert(r.getBoolean(2), s"$q recall gate failed"))
    }
  }

  test("IVF ANN returns <=k ranked candidates bounded by brute force") {
    val ivf = LlmQueries.annIvfTopK(spark, sf, nProbe = 6, k = 5).collect()
    assert(ivf.nonEmpty && ivf.length <= 5)
    val cosines = ivf.map(_.getDouble(1))
    assert(cosines.sameElements(cosines.sorted.reverse))
    val exact = LlmQueries.exactCosTopK(spark, sf, 5).collect().map(_.getDouble(1))
    assert(cosines.max <= exact.max + 1e-9)
  }

  test("int8-quantized top-k overlaps the exact top-k (quantization recall)") {
    val exact = run("q25_cosine_topk").collect().map(_.getLong(0)).toSet
    val quant = run("q50_quantized_topk").collect()
    assert(quant.length == 5)
    val qIds = quant.map(_.getLong(0)).toSet
    // int8 symmetric quantization distorts cosines by well under the
    // gap between neighbors on this data — demand >=4/5 agreement
    assert((exact & qIds).size >= 4, s"quantized top-k drifted: $qIds vs $exact")
    // and quantized cosines cannot exceed 1 by more than rounding
    quant.map(_.getDouble(1)).foreach(c => assert(c >= -1.0001 && c <= 1.0001))
  }

  test("token-budget sampling: per-source cumsum respects the budget and is a prefix") {
    val rows = run("q49_token_budget").collect()
    assert(rows.nonEmpty)
    val bySource = rows.groupBy(_.getString(1))
    // every source is represented and every kept row is under budget
    assert(bySource.nonEmpty)
    rows.foreach(r => assert(r.getLong(3) <= 1000L))
    // the budget actually bites at this scale: kept docs < corpus docs
    val total = Tables.documents(spark, sf).count()
    assert(rows.length < total, "budget never bound - vacuous sample")
    // cum_tokens within a source is strictly the running sum of n_tokens
    bySource.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(3))
      sorted.foldLeft(0L) { (acc, r) =>
        val next = acc + r.getLong(2)
        assert(r.getLong(3) == next); next
      }
    }
  }

  test("contamination grows with the corpus slice: flagged docs overlap bench shingles") {
    val rows = run("q47_contamination").collect()
    assert(rows.nonEmpty, "fixture near-dups of benchmark docs should be flagged")
    rows.foreach { r =>
      assert(r.getLong(0) % 97 != 0)               // bench docs never self-flag
      assert(r.getDouble(3) >= 0.10 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1))          // overlap <= shingle count
    }
  }

  test("PQ ANN: ranked, bounded by brute force, and high-recall vs exact top-k") {
    val pq = LlmQueries.annPqTopK(spark, sf, k = 5).collect()
    assert(pq.nonEmpty && pq.length <= 5)
    val cosines = pq.map(_.getDouble(1))
    assert(cosines.sameElements(cosines.sorted.reverse))
    val exact = LlmQueries.exactCosTopK(spark, sf, 5).collect()
    assert(cosines.max <= exact.map(_.getDouble(1)).max + 1e-9)
    // with a 64-candidate shortlist over ~500 vectors the exact rerank
    // should recover most of the true top-5
    val overlap = (pq.map(_.getLong(0)).toSet & exact.map(_.getLong(0)).toSet).size
    assert(overlap >= 3, s"PQ recall too low: $overlap/5")
  }

  test("bloom-prefiltered contamination returns exactly q47's rows") {
    val exact = run("q47_contamination").collect().map(_.toSeq).toSeq
    val bloom = run("q59_contamination_bloom").collect().map(_.toSeq).toSeq
    assert(exact.nonEmpty && bloom == exact)
  }

  test("semantic dedup clusters are refinements of the exact cosine>=0.40 pair graph") {
    val thresh = 0.40
    // exact ground truth: all-pairs cosine over the full corpus
    import graft.operators.KeyedPairs
    val e = Tables.spread(Tables.embeddings(spark, sf), col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", LlmQueries.l2(col("embedding")))
    val payload = struct(col("vec_id"), col("embedding"), col("nrm"))
    val exactPairs = KeyedPairs.allPairs(e, payload, cap = 256)
      .select(col("pa.vec_id").as("va"), col("pb.vec_id").as("vb"),
        (LlmQueries.dotd(col("pa.embedding"), col("pb.embedding")) /
          (col("pa.nrm") * col("pb.nrm"))).as("cos"))
      .filter(col("cos") >= thresh)
    val exactComp = graft.operators.ConnectedComponents
      .componentsAuto(exactPairs.select("va", "vb"), "va", "vb")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sem = LlmQueries.semanticDedup(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sem.nonEmpty, "within-cluster pairs should exist at this threshold")
    // every q60 edge is an exact edge (precision is exact by the cosine
    // confirm), so each q60 cluster must live inside ONE exact cluster
    sem.groupBy(_._2).values.foreach { members =>
      val exactLabels = members.keys.map(exactComp).toSet
      assert(exactLabels.size == 1,
        s"semantic cluster spans exact components: $members -> $exactLabels")
    }
    // recall at test scale: the within-cell stage recovers a meaningful
    // share of the exact duplicate set (SemDeDup's contract is within-
    // cluster pruning, so 100% is NOT expected)
    val recall = sem.size.toDouble / exactComp.size
    assert(recall >= 0.3, f"semantic dedup recall $recall%.2f too low")
  }

  test("q61's scale variant percentileGate(exact=false) tracks the exact gate") {
    // the query ships exact percentile() for the oracle; exact=false is
    // the 100 TB approx_percentile path, shipped as callable code.
    // Compare the KEPT DOC SETS, not bound values: approx_percentile
    // returns an actual element (no interpolation), so raw bound
    // distance is meaningless on sparse strata — rank drift is what
    // the gate actually feels.
    def kept(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val exactKept = kept(LlmQueries.percentileGate(spark, sf, exact = true))
    val approxKept = kept(LlmQueries.percentileGate(spark, sf, exact = false))
    val diff = (exactKept -- approxKept) ++ (approxKept -- exactKept)
    val total = Tables.documents(spark, sf).count()
    // 4 boundaries x 5 strata of rank-neighborhood flips at most
    assert(diff.size <= math.max(20, total / 20),
      s"approx gate drifted by ${diff.size}/$total docs")
  }

  test("q60 multi-assignment (nAssign=2) raises cross-cell recall, bounded volume") {
    val thresh = 0.40
    // exact ground truth pair set (all-pairs at test scale)
    import graft.operators.KeyedPairs
    val e = Tables.spread(Tables.embeddings(spark, sf), col("vec_id"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", LlmQueries.l2(col("embedding")))
    val payload = struct(col("vec_id"), col("embedding"), col("nrm"))
    val exact = KeyedPairs.allPairs(e, payload, cap = 256)
      .select(col("pa.vec_id").as("va"), col("pb.vec_id").as("vb"),
        (LlmQueries.dotd(col("pa.embedding"), col("pb.embedding")) /
          (col("pa.nrm") * col("pb.nrm"))).as("cos"))
      .filter(col("cos") >= thresh)
      .select("va", "vb").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    def pairSet(nAssign: Int): Set[(Long, Long)] =
      LlmQueries.semanticDedupPairs(spark, sf, nAssign, thresh).collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
        .toSet
    val p1 = pairSet(1)
    val p2 = pairSet(2)
    // precision stays exact (every emitted pair passed the cosine
    // confirm), single-assign pairs are never lost, and the runner-up
    // cell recovers boundary pairs the single-cell pass missed
    assert(p1.subsetOf(exact) && p2.subsetOf(exact))
    assert(p1.subsetOf(p2))
    val r1 = p1.size.toDouble / math.max(exact.size, 1)
    val r2 = p2.size.toDouble / math.max(exact.size, 1)
    assert(r2 >= r1, f"nAssign=2 recall $r2%.2f below nAssign=1 $r1%.2f")
    // pairing volume bounded: deduped output can at most reach the
    // exact pair graph, never a blowup past it
    assert(p2.size <= exact.size)
    // nAssign=2 (the shipped q60 gate config) clusters remain
    // refinements and can only grow the deduped membership
    val sem2 = LlmQueries.semanticDedup(spark, sf, nAssign = 2)
    assert(sem2.count() >= LlmQueries.semanticDedup(spark, sf).count())
  }

  test("q60 checked gate: one row, corpus/exact-graph counts, both booleans true") {
    val rows = run("q60_semantic_dedup").collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getLong(0) == Tables.embeddings(spark, sf).count())
    // n_exact_pairs matches the reference pair graph the specs build
    val nExact = LlmQueries.exactCosPairs(spark, sf, 0.40).count()
    assert(r.getLong(1) == nExact)
    assert(r.getBoolean(2), "pairs_subset_ok gate failed")
    assert(r.getBoolean(3), "recall_ok gate failed (nAssign=2 cell-blocked recall < 0.6)")
  }

  test("exact dedup keeps one row per distinct text") {
    val n = Tables.documents(spark, sf).count()
    val out = run("q24_exact_dedup")
    assert(out.agg(sum("n_copies")).head().getLong(0) == n)
  }

  test("ANN models persist: a fresh session serves q42/q53 from the disk store") {
    val store = java.nio.file.Files.createTempDirectory("graft_store").toString
    val prior = sys.props.put("graft.model.dir", store)
    try {
      // session 1 must be FRESH: the suite's earlier q42/q53 runs put
      // models in the in-memory cache keyed by `spark`, which would
      // short-circuit the disk tier entirely. A fresh session finds an
      // empty store → trains → saves.
      val s1 = spark.newSession()
      val ivf42 = LlmQueries.annIvfTopK(s1, sf, nProbe = 6, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pq53 = LlmQueries.annPqTopK(s1, sf, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val ivfDir = LlmQueries.modelStoreDir(sf, "ivf_k16_i2")
      val pqDir = LlmQueries.modelStoreDir(sf, "pq_m8_k16_i2")
      assert(ivfDir.startsWith(store) && pqDir.startsWith(store))
      val ivfMf = graft.operators.ModelIO.readManifest(s1, ivfDir)
      assert(ivfMf.exists(_("type") == "ivf"))
      assert(graft.operators.ModelIO.readManifest(s1, pqDir).exists(_("type") == "pq"))
      // the manifest carries the corpus fingerprint the cache checks
      assert(ivfMf.exists(_.get("fp").contains(
        LlmQueries.embeddingsFingerprint(s1, sf))))
      // a FRESH session has no in-memory model cache entry for itself —
      // it must LOAD from the store (training again would also work,
      // but the loaded model must reproduce the same output exactly)
      val s2 = spark.newSession()
      val ivf42b = LlmQueries.annIvfTopK(s2, sf, nProbe = 6, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val pq53b = LlmQueries.annPqTopK(s2, sf, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ivf42b == ivf42, "q42 from the loaded IVF model diverged")
      assert(pq53b == pq53, "q53 from the loaded PQ model diverged")
      // stale store: a manifest whose fingerprint doesn't match the
      // corpus (the regenerated-data-at-same-path scenario) must NOT be
      // served — a fresh session retrains and re-commits with the
      // current fingerprint, and deterministic training reproduces the
      // same outputs
      val mf = graft.operators.ModelIO.readManifest(s2, ivfDir).get
      graft.operators.ModelIO.writeManifest(s2, ivfDir, mf + ("fp" -> "stale"))
      val s3 = spark.newSession()
      val ivf42c = LlmQueries.annIvfTopK(s3, sf, nProbe = 6, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ivf42c == ivf42, "retrain after stale fingerprint diverged")
      assert(graft.operators.ModelIO.readManifest(s3, ivfDir)
        .exists(_.get("fp").contains(LlmQueries.embeddingsFingerprint(s3, sf))),
        "stale store was not re-committed with the current fingerprint")
    } finally {
      prior match {
        case Some(v) => sys.props.put("graft.model.dir", v)
        case None    => sys.props.remove("graft.model.dir")
      }
      ()
    }
  }

  test("repeated invocations do not grow the persisted-relation set (memoized pins)") {
    // round 19: the per-invocation .persist() calls in q28/q29/q59/
    // q60/q63/q65/q73 became (session, dir, tag)-memoized pins -- a
    // long-lived session running the same query many times must hold a
    // CONSTANT set of cached relations, not one more per invocation
    val names = Seq("q29_simhash", "q59_contamination_bloom",
      "q60_semantic_dedup", "q63_winnow_fingerprints",
      "q73_incremental_dedup", "q65_source_overlap")
    names.foreach(n => run(n).count())   // first pass: pins build
    val after1 = spark.sparkContext.getPersistentRDDs.size
    (1 to 2).foreach(_ => names.foreach(n => run(n).count()))
    val after3 = spark.sparkContext.getPersistentRDDs.size
    assert(after3 == after1,
      s"persisted-RDD count grew across invocations: $after1 -> $after3")
  }

  test("invalidateCaches leaves no memo behind and unpersists what they pinned") {
    import scala.jdk.CollectionConverters._
    val s = spark.newSession()
    Seq("q31_ann_lsh", "q42_ann_ivf", "q53_ann_pq", "q100_bpe_train_apply")
      .foreach(n => LlmQueries.all(n)(s, sf).count())
    // the registry is the object's ONLY map: a hand-rolled memo beside
    // it would escape invalidateCaches
    val maps = LlmQueries.getClass.getDeclaredFields.toSeq
      .filter(f => classOf[java.util.Map[_, _]].isAssignableFrom(f.getType))
    assert(maps.map(_.getName.split('$').last) == Seq("registry"),
      s"map fields: ${maps.map(_.getName)}")
    maps.head.setAccessible(true)
    val registry = maps.head.get(LlmQueries)
      .asInstanceOf[java.util.Map[LlmQueries.Derivation, LlmQueries.Once]]
    val names = registry.keySet.asScala.filter(_.s eq s).map(_.name).toSet
    assert(Set("lshIndex", "ivfAssigned", "pqEncoded", "bpeMerges").subsetOf(names),
      s"registry entries: $names")
    val pinned = registry.values.asScala.toSeq.flatMap(_.built).flatMap {
      case df: org.apache.spark.sql.Dataset[_] => Seq(df)
      case c: graft.operators.DupCollapse.Collapsed => Seq(c.groups, c.members)
      case _ => Nil
    }.filter(_.storageLevel.isValid)
    assert(pinned.nonEmpty)
    LlmQueries.invalidateCaches()
    assert(registry.isEmpty, s"entries surviving invalidateCaches: ${registry.keySet}")
    assert(pinned.forall(!_.storageLevel.isValid), "a memoized relation is still persisted")
  }

  test("registry: nested builds complete cold, concurrent requests share one build") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    withStore(java.nio.file.Files.createTempDirectory("graft_registry").toString) {
      // a cold session and store walk the whole chain shingleCollapsed
      // -> shingleSets -> docToks -> documentsFingerprint, each build
      // requesting the next from inside its own registry entry
      val s = spark.newSession()
      val c = LlmQueries.shingleCollapsed(s, sf)
      assert(c.groups.count() > 0)
      assert(LlmQueries.shingleCollapsed(s, sf) eq c, "second request rebuilt")
      // a deep chain: updating the map from inside its own mapping
      // function throws once a nested key shares a bin with a pending
      // one or the table resizes mid-chain, all but certain at this depth
      def chain(i: Int): Int =
        if (i == 0) 0 else LlmQueries.memo(s, sf, "chain", i)(chain(i - 1) + 1)
      assert(chain(200) == 200)
      // two threads asking for the same cold key: one build, one instance
      val builds = new java.util.concurrent.atomic.AtomicInteger()
      val start = new java.util.concurrent.CountDownLatch(1)
      val requests = (1 to 2).map(_ => Future {
        start.await()
        LlmQueries.memo(s, sf, "shared", 7) {
          builds.incrementAndGet(); Thread.sleep(200); new Object
        }
      })
      start.countDown()
      val got = requests.map(Await.result(_, 30.seconds))
      assert(got(0) eq got(1))
      assert(builds.get == 1, s"${builds.get} builds for one key")
    }
  }

  private def withStore[T](root: String)(body: => T): T = {
    val prior = sys.props.put("graft.model.dir", root)
    try body
    finally prior match {
      case Some(v) => sys.props.put("graft.model.dir", v)
      case None    => sys.props.remove("graft.model.dir")
    }
  }

  private def rows(q: String, s: org.apache.spark.sql.SparkSession): Seq[String] =
    LlmQueries.all(q)(s, sf).collect().map(_.toString).toSeq.sorted

  test("store: a committed manifest over a deleted payload rebuilds, re-commits, same rows") {
    import graft.operators.ModelIO
    import java.nio.file.{Files, Paths}
    withStore(Files.createTempDirectory("graft_heal").toString) {
      val s1 = spark.newSession()
      val toks = LlmQueries.docToks(s1, sf).orderBy("doc_id").collect().map(_.toString).toSeq
      val q42 = rows("q42_ann_ivf", s1)
      val payloads = Seq(
        LlmQueries.modelStoreDir(sf, "stage_docToks") -> "data",
        LlmQueries.modelStoreDir(sf, "ivf_k16_i2") -> "centroids.parquet")
      for ((dir, payload) <- payloads) {
        assert(ModelIO.readManifest(s1, dir).nonEmpty, s"$dir not committed")
        org.apache.commons.io.FileUtils.deleteDirectory(Paths.get(dir, payload).toFile)
      }
      // fresh session: the manifests still read committed, the payloads
      // are gone — each value is rebuilt and committed again
      val s2 = spark.newSession()
      assert(LlmQueries.docToks(s2, sf).orderBy("doc_id").collect().map(_.toString).toSeq == toks)
      assert(rows("q42_ann_ivf", s2) == q42)
      val fps = Seq(LlmQueries.documentsFingerprint(s2, sf), LlmQueries.embeddingsFingerprint(s2, sf))
      for (((dir, payload), fp) <- payloads.zip(fps)) {
        assert(ModelIO.readManifest(s2, dir).exists(_.get("fp").contains(fp)),
          s"$dir not re-committed")
        assert(Files.exists(Paths.get(dir, payload)), s"$dir payload not rewritten")
      }
    }
  }

  test("store: one that cannot be written serves q27 and q42 from the in-session derivation") {
    import java.nio.file.Files
    val queries = Seq("q27_ngram_jaccard", "q42_ann_ivf")
    val writable = withStore(Files.createTempDirectory("graft_rw").toString) {
      val s = spark.newSession()
      queries.map(rows(_, s))
    }
    // the store root is a regular file: every write under it fails
    val file = Files.createTempFile("graft_store", ".file")
    try withStore(file.toString) {
      val s = spark.newSession()
      assert(queries.map(rows(_, s)) == writable)
      assert(Files.isRegularFile(file) && Files.size(file) == 0L)
    } finally Files.deleteIfExists(file)
  }
}
