package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables._

/** SURVEY.md §2.3 Q24–Q26 plus the large-scale training-data pipeline
  * suite (north star per BASELINE.json): deduplication (exact, n-gram
  * Jaccard, MinHash+LSH, SimHash), similarity search (brute-force
  * cosine, random-hyperplane LSH ANN), and text analysis (language-ID,
  * quality scoring, token counting, fingerprinting) over the
  * `documents` / `embeddings` testdata tables.
  *
  * Oracle-checked queries replicate the exact same arithmetic in DuckDB
  * SQL (sequential double folds, integer ratios, `rk` rounding) so the
  * hash compare is deterministic. Queries whose algorithm depends on an
  * engine-specific hash (xxhash64 seeds for MinHash/SimHash, seeded
  * hyperplanes for ANN) have no SQL oracle — the driver records a
  * rows-only check — and are instead cross-validated in ScalaTest
  * against the exact-algorithm queries (e.g. MinHash candidates must
  * recover every Jaccard>=0.5 pair at test scale).
  */
object LlmQueries {
  type Q = (SparkSession, String) => DataFrame

  /** Distinct word n-gram shingles of a token-array column; empty array
    * for docs shorter than n tokens (guarded inside the expression so no
    * caller-side filter exists for the optimizer to push below a
    * repartition — see the plan note in `jaccardPairs`).
    */
  def shingles(toks: Column, n: Int): Column =
    // native codegen'd shingling (org.apache.spark.sql.graftfns
    // .WordShingles) — bit-equal to the interpreted
    // array_distinct(transform(sequence(...), concat_ws)) chain it
    // replaced (TextExprSpec proves it on random inputs, including the
    // null corners); coalesce keeps the HOF wrapper's null semantics
    // (null token array -> EMPTY shingle set, not null)
    coalesce(org.apache.spark.sql.graftfns.TextFunctions.shingles(toks, n),
      array().cast("array<string>"))

  /** Left-to-right dot product — identical op order (hence bit-identical
    * results) to DuckDB's list_reduce oracle. Backed by the native
    * codegen'd DotProduct expression (org.apache.spark.sql.graftfns):
    * the interpreted aggregate(zip_with(...)) fold it replaces is a
    * CodegenFallback and ~10x slower on the pair-heavy queries.
    */
  def dotd(a: Column, b: Column): Column =
    org.apache.spark.sql.graftfns.VectorFunctions.dot(a, b)

  def l2(a: Column): Column = sqrt(dotd(a, a))

  /** documents → (doc_id, toks). Memoized per (session, dir) like the
    * shingle sets one level up: the whitespace tokenization is the one
    * interpreted-HOF pass EVERY text query starts from (token top-k,
    * TF-IDF, unigram LM, quality, fingerprints, the shingle family via
    * shingleSets) — one persisted derivation serves them all, exactly
    * as a real pipeline stages its tokenized corpus once. Same
    * immutable-dir assumption as the other caches (invalidateCaches).
    */
  private[graft] def docToks(s: SparkSession, d: String): DataFrame =
    memo(s, d, "docToks")(staged(s, d, "docToks")(
      spread(documents(s, d), col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"))))

  /** Per-task member cap for keyed pair expansion (see KeyedPairs):
    * buckets above this split into block pairs. High enough that test
    * corpora stay on the single-task path; the operator's spec forces
    * the block path with a synthetic hot key. The corpus-derived dedup
    * queries use LshTuning.pairCap(corpusDocs) instead.
    */
  private val PairCap = 1024

  /** Corpus document count, memoized per (session, dir). Counting the
    * persisted docToks relation is an in-memory statistics read after
    * the first derivation — this is what the corpus-derived LSH knobs
    * (LshTuning) key off, NOT a fresh scan per query.
    */
  private[graft] def corpusDocs(s: SparkSession, d: String): Long =
    memo(s, d, "corpusDocs")(docToks(s, d).count())

  /** Embedding-corpus row count, read off the memoized fingerprint
    * (format "<count>x<checksum>") — no extra pass.
    */
  private[graft] def corpusVecs(s: SparkSession, d: String): Long =
    embeddingsFingerprint(s, d).split("x")(0).toLong

  /** Sampling modulus for the in-query exact-reference gates
    * (q28/q60): full corpus below `threshold`, a deterministic
    * ~1000-row slice above it. The exact references those gates
    * recompute are quadratic in their input — the right price for a
    * real gate at verify scale, the dominant term of the whole query
    * at 100× — while the properties they check (recall of a
    * candidate-generation scheme, subset containment) are measurable
    * on a sample: a systematic recall or containment bug hits sampled
    * pairs like any others. The 100 TB recall audit runs on a sampled
    * probe set; this makes the code do that. The sample keys on the
    * LEHMER hash (q49/q52's (id*48271) mod 2^31-1), not xxhash64,
    * because these gates define ORACLE-CHECKED OUTPUT ROWS — DuckDB
    * must replicate the slice, and the modulus derivation from
    * COUNT(*) is one CTE there.
    */
  private[graft] def gateSampleMod(n: Long, threshold: Long): Long =
    if (n <= threshold) 1L else math.max(1L, n / 1000L)

  /** Membership test of the Lehmer-hash sample slice; m == 1 is the
    * full corpus (callers skip the filter entirely then). The id is
    * pre-reduced mod 2^31-1 BEFORE the 48271 multiply: the reduced
    * product is < 2^47, so the step is a true Lehmer step for ANY
    * 64-bit id — without the pre-reduction, ids above ~2^46 overflow
    * the Long product and the map, while still deterministic, is no
    * longer the published generator (and its slice-size guarantees).
    * The gate oracle SQLs replicate this exact form.
    */
  private[graft] def lehmerSampled(id: Column, m: Long): Column =
    pmod(pmod(id, lit(2147483647L)) * 48271L, lit(2147483647L)) % m === 0

  /** Key of one registry entry: `params` carries every build input
    * beyond (session, dir) as typed values, so two builds that differ
    * in any input can never share an entry.
    */
  private[graft] final case class Derivation(s: SparkSession, d: String,
      name: String, params: Seq[Any])

  /** A registry entry's value, built at most once and OUTSIDE the
    * registry's lock: builds nest (jaccardPairs → shingleCollapsed →
    * shingleSets → docToks → documentsFingerprint), and a
    * ConcurrentHashMap must not be updated from inside its own
    * computeIfAbsent mapping function (Java 17 throws "Recursive
    * update" or deadlocks). A build that throws leaves the entry
    * unbuilt, so the next request retries it.
    */
  private[graft] final class Once(build: () => Any) {
    @volatile private var value: Option[Any] = None
    def built: Option[Any] = value
    def get: Any = value.getOrElse(synchronized {
      if (value.isEmpty) value = Some(build())
      value.get
    })
  }

  /** THE memo of every shared derivation — tokens, shingles, pair
    * graphs, collapses, corpus statistics, ANN models and indexes, and
    * the per-query pins of derivation-sized intermediates: a real
    * pipeline converts its corpus once and serves every query from the
    * staged artifacts. Keys assume the parquet under `dir` is
    * IMMUTABLE for the session's lifetime (true for the driver's
    * testdata and for any sanely-versioned lake layout — new data means
    * a new directory); see [[invalidateCaches]] otherwise.
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[Derivation, Once]()

  /** The registry value for (s, d, name, params), built once per
    * session; a Dataset (or both sides of a DupCollapse.Collapsed) is
    * persisted when it is built. Entries of stopped sessions are swept
    * here — their persisted blocks are gone with the context, so a
    * long-lived JVM cycling sessions doesn't pin each one's object
    * graph forever.
    */
  private[graft] def memo[T](s: SparkSession, d: String, name: String,
      params: Any*)(build: => T): T = {
    registry.keySet.removeIf(_.s.sparkContext.isStopped)
    registry.computeIfAbsent(Derivation(s, d, name, params), _ => new Once(() => {
      val v = build
      datasets(v).foreach(_.persist())
      v
    })).get.asInstanceOf[T]
  }

  private def datasets(v: Any): Seq[org.apache.spark.sql.Dataset[_]] = v match {
    case df: org.apache.spark.sql.Dataset[_] => Seq(df)
    case c: graft.operators.DupCollapse.Collapsed => Seq(c.groups, c.members)
    case _ => Nil
  }

  /** Drops every memoized derivation and unpersists every Dataset the
    * registry pinned. A caller that rewrites a dir in place must call
    * this to drop the stale derivations (the disk store re-validates
    * on its own: its manifests carry a corpus fingerprint).
    */
  def invalidateCaches(): Unit = {
    registry.values.forEach(_.built.foreach(datasets(_).foreach(_.unpersist())))
    registry.clear()
  }

  /** Force-build every shared derivation (tokenized corpus, term
    * frequencies, shingle sets, simhashes, the 0.5-Jaccard pair graph,
    * the probe corpus, the IVF/PQ models and their served indexes, the
    * LSH index) and return per-derivation build seconds, in that order.
    * Bench calls this before the timed loop so cache-build cost is its
    * own line item instead of being attributed to whichever query
    * happens to iterate first — the round-4 "regression" cluster
    * (q48/q51/q57) was exactly that attribution drift, not a plan
    * change. A failed build reports a negative time; the queries that
    * need it will then surface the real error in their own err fields.
    */
  def warmShared(s: SparkSession, d: String): Seq[(String, Double)] = {
    def timed(name: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      try { f; name -> (System.nanoTime() - t0) / 1e9 }
      catch { case _: Throwable => name -> -1.0 }
    }
    Seq(
      timed("docToks") { docToks(s, d).count(); () },
      timed("termFreqs") { termFreqs(s, d).count(); () },
      timed("shingleSets") { shingleSets(s, d).count(); () },
      timed("simhashes") { simhashes(s, d).count(); () },
      timed("jaccardPairs") { jaccardPairs(s, d, 0.5).count(); () },
      // the probes' shared corpus relation + fixed query vector
      timed("embCorpus") { embCorpus(s, d).count(); queryVec(s, d); () },
      // each model plus its served probe index (the cell-partitioned
      // staged assignment; the staged codes)
      timed("ivfModel") { ivfModel(s, d, 16); ivfAssigned(s, d, 16).count(); () },
      timed("pqModel") { pqModel(s, d); pqEncoded(s, d).count(); () },
      // q31's served index (12-table hyperplane signatures)
      timed("lshIndex") { lshIndex(s, d, tables = 12, bits = 10,
        seed = 42, dim = 64).count(); () })
  }

  /** (doc_id, simhash) memoized per (session, dir) — 16 bytes/doc. The
    * cache boundary matters more than the reuse: without it the
    * optimizer collapses the isNotNull filter into the projection and
    * re-evaluates simhash64 per row (once in the Filter condition,
    * once in the Project), and KeyedPairs' three consumers (hot count,
    * small path, big path) each rebuild the whole derivation. The
    * InMemoryRelation stops both — simhash64 runs exactly once per doc.
    */
  private def simhashes(s: SparkSession, d: String): DataFrame =
    memo(s, d, "simhashes")(staged(s, d, "simhashes")(
      docToks(s, d)
        .select(col("doc_id"),
          org.apache.spark.sql.graftfns.TextFunctions.simhash64(col("toks")).as("simhash"))
        .filter(col("simhash").isNotNull)))

  /** Root of the disk tier: `<root>/md5(dataDir)/<scheme>`, with the
    * root from the `graft.model.dir` system property, else
    * GRAFT_MODEL_DIR, else <tmpdir>/graft_models.
    */
  private[graft] def modelStoreDir(d: String, scheme: String): String = {
    val root = sys.props.get("graft.model.dir")
      .orElse(sys.env.get("GRAFT_MODEL_DIR"))
      .getOrElse(s"${sys.props("java.io.tmpdir")}/graft_models")
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    s"$root/$key/$scheme"
  }
  /** Cheap corpus identity for the disk-tier staleness check: row
    * count + order-free xxhash64 checksum of (vec_id, embedding), one
    * map-side aggregate (bit_xor merges associatively — no sort, no
    * shuffle of the vectors). Guards the path-keyed model store
    * against a corpus REGENERATED at the same path: without it a new
    * JVM would load centroids trained on the old data and the checked
    * recall gates would fail on the wrong model. Memoized per
    * (session, dir); the one pass is noise next to training, and
    * cross-session loads pay it once.
    */
  private[graft] def embeddingsFingerprint(s: SparkSession, d: String): String =
    memo(s, d, "embeddingsFingerprint") {
      val r = embeddings(s, d)
        .agg(count(lit(1)), bit_xor(xxhash64(col("vec_id"), col("embedding")))).head()
      s"${r.getLong(0)}x${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    }
  /** Cheap corpus identity for the staged TEXT derivations (docToks
    * and everything derived from it): row count + order-free checksum
    * of (doc_id, text), one map-side aggregate. Same role as
    * embeddingsFingerprint for the ANN models.
    */
  private[graft] def documentsFingerprint(s: SparkSession, d: String): String =
    memo(s, d, "documentsFingerprint") {
      val r = documents(s, d)
        .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id"), col("text")))).head()
      s"${r.getLong(0)}x${if (r.isNullAt(1)) 0L else r.getLong(1)}"
    }

  private val logger = org.slf4j.LoggerFactory.getLogger(LlmQueries.getClass)

  /** THE disk tier, for staged relations and trained ANN models alike:
    * a real pipeline converts its corpus and trains its indexes ONCE,
    * and the store extends the registry's reuse across SESSIONS — a
    * fresh JVM loads the staged parquet or the stored centroids/
    * codebooks instead of re-deriving them.
    *
    * Protocol: a committed value is its payload under
    * `modelStoreDir(d, scheme)` plus a `_model.json` manifest carrying
    * the corpus fingerprint `fp`, written LAST (ModelIO). The value is
    * loaded only when the manifest's fingerprint matches; a mid-write
    * crash leaves no manifest and reads as absent. SELF-HEALING load:
    * plain-FS stores cannot fully serialize concurrent savers, so a
    * committed manifest whose payload fails to load is treated as
    * absent — rebuilt and re-committed — instead of failing every later
    * session until someone deletes the dir by hand. A store that cannot
    * be written (read-only root) degrades to the in-session value:
    * staging is an optimization, never a correctness dependency. Both
    * fallbacks log a WARN. Concurrent same-key savers race benignly:
    * builds are deterministic, and the manifest commits last either way.
    *
    * @param save writes the payload and the manifest and returns the
    *             value to serve (staged relations re-read what they
    *             wrote, so downstream lineage is a plain columnar scan)
    */
  private def stored[T](s: SparkSession, d: String, scheme: String, fp: String)(
      build: => T)(load: String => T, save: (String, T) => T): T = {
    val store = modelStoreDir(d, scheme)
    val committed = graft.operators.ModelIO.readManifest(s, store)
      .exists(_.get("fp").contains(fp))
    (if (committed)
      try Some(load(store))
      catch { case scala.util.control.NonFatal(e) =>
        logger.warn(s"$scheme: committed store $store is unreadable, rebuilding: $e"); None }
    else None)
      .getOrElse {
        val v = build
        try save(store, v)
        catch { case scala.util.control.NonFatal(e) =>
          logger.warn(s"$scheme: cannot write store $store, serving the in-session value: $e"); v }
      }
  }

  /** Cross-session persistence for the shared text derivations
    * (docToks, shingleSets, simhashes, the 0.5-Jaccard pair graph) —
    * exactly the conversion artifacts of "convert once, query many
    * times": before the stage store every fresh session re-derived
    * them (the amplified pair graph alone was ~2 minutes of warm time,
    * paid per session). Keyed on the documents-corpus fingerprint.
    */
  private def staged(s: SparkSession, d: String, stage: String)(
      build: => DataFrame): DataFrame =
    stagedRel(s, d, stage, documentsFingerprint(s, d))(build)

  /** [[staged]] with an explicit corpus fingerprint — embedding-derived
    * stages (the ANN indexes) key staleness on the EMBEDDINGS corpus,
    * not the documents one. The store is `stage_<stage>`: `data`
    * parquet plus the manifest.
    */
  private def stagedRel(s: SparkSession, d: String, stage: String, fp: String,
      partitionCols: Seq[String] = Nil)(
      build: => DataFrame): DataFrame =
    stored(s, d, s"stage_$stage", fp)(build)(
      store => s.read.parquet(s"$store/data"),
      (store, df) => {
        graft.operators.ModelIO.deleteManifest(s, store)
        // partitionCols (e.g. the IVF cell): a fresh JVM's probes
        // then PRUNE to the probed directories instead of scanning
        // the whole staged relation — the IvfIndex.build layout
        df.write.mode("overwrite").partitionBy(partitionCols: _*)
          .parquet(s"$store/data")
        graft.operators.ModelIO.writeManifest(s, store,
          Map("fp" -> fp, "stage" -> stage, "type" -> "stage"))
        s.read.parquet(s"$store/data")
      })

  /** Trained ANN models (IVF centroids, PQ codebooks): training is
    * deterministic, so a model is a pure function of the data, trained
    * ONCE and served to every query (the training cost amortizes to
    * zero, which is the whole point of building an index). Models are
    * kilobytes; the payload is IvfIndex/PqIndex.save's parquet, keyed
    * on the embeddings fingerprint.
    */
  private def storedModel[T](s: SparkSession, d: String, scheme: String)(
      train: => T)(load: (SparkSession, String) => T,
      save: (SparkSession, String, T, Map[String, String]) => Unit): T = {
    val fp = embeddingsFingerprint(s, d)
    stored(s, d, scheme, fp)(train)(load(s, _),
      (store, m) => { save(s, store, m, Map("fp" -> fp)); m })
  }
  private def ivfModel(s: SparkSession, d: String, k: Int)
      : Seq[graft.operators.IvfIndex.Centroid] =
    memo(s, d, "ivfModel", k)(storedModel(s, d, s"ivf_k${k}_i2")(
      graft.operators.IvfIndex.train(embCorpus(s, d), "vec_id", "embedding", k, iters = 2))(
      graft.operators.IvfIndex.load, graft.operators.IvfIndex.save))
  private def pqModel(s: SparkSession, d: String): graft.operators.PqIndex.Model =
    memo(s, d, "pqModel")(storedModel(s, d, "pq_m8_k16_i2")(
      graft.operators.PqIndex.train(embCorpus(s, d), "vec_id", "embedding",
        m = 8, k = 16, iters = 2))(
      graft.operators.PqIndex.load, graft.operators.PqIndex.save))

  /** The embedding corpus as ONE persisted (vec_id, embedding)
    * relation, spread once at build: every ANN probe previously paid
    * its own `spread(...)` — a full corpus SHUFFLE per query
    * execution — before map-only scoring. The probes' dot products
    * are native codegen (DotProduct), so the only thing the per-query
    * shuffle bought was parallelism the one-time build now provides.
    */
  private def embCorpus(s: SparkSession, d: String): DataFrame =
    memo(s, d, "embCorpus")(
      spread(embeddings(s, d), col("vec_id")).select(col("vec_id"), col("embedding")))

  /** The fixed probe vector (vec_id = 0), collected ONCE per corpus —
    * each ANN query used to run its own scan-and-head job at
    * DataFrame-BUILD time just to re-fetch the same 64 floats.
    */
  private def queryVec(s: SparkSession, d: String): Array[Float] =
    memo(s, d, "queryVec")(
      embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).toArray)

  /** |q| by the SAME left-to-right double fold as l2()'s DotProduct —
    * driver-side, so rerank projections embed it as a literal instead
    * of recomputing sqrt(dot(q,q)) per row; bit-identical to the
    * column form (and to the DuckDB oracle's list_reduce).
    */
  private def qNorm(q: Array[Float]): Double = {
    var acc = 0.0
    var i = 0
    while (i < q.length) { acc += q(i).toDouble * q(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  /** (doc_id, sh) with sh = distinct 3-shingles — the one expensive
    * interpreted pass q27, q28 and q46 all start from, memoized so
    * signature derivation and the confirmation join read it instead of
    * re-running the token+shingle HOF chain (round-1 bench: that
    * recompute was 3× the cost of q28). The cache boundary also stops
    * predicate pushdown from sinking derived size()-filters below the
    * spread-repartition (the round-1 single-task trap).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    memo(s, d, "shingleSets")(staged(s, d, "shingleSets")(
      docToks(s, d).select(col("doc_id"), shingles(col("toks"), 3).as("sh"))))

  /** Exact Jaccard over shared-shingle pairs: inverted-index grouping
    * (explode shingles, pair docs within a shingle) — never an
    * all-pairs cross product. Hot shingles (the skew/scale concern) are
    * split into bounded block-pair tasks by KeyedPairs, so no task
    * holds or emits an unbounded bucket. Memoized like shingleSets: q27
    * reports these pairs, q46 clusters them — one pair-expansion +
    * confirm pass serves both (a real pipeline computes the pair graph
    * once).
    */
  private def jaccardPairs(s: SparkSession, d: String, thresh: Double): DataFrame =
    memo(s, d, "jaccardPairs", thresh)(staged(s, d, s"jaccardPairs_$thresh")(
      jaccardPairsUncached(s, d, thresh)))

  /** THE memoized shingle-set collapse (see DupCollapse) — jaccardPairs,
    * minhashPairs and q65 all consume the same groups. The collapsed
    * groups/members appear several times in each consumer's plan
    * (within-pairs, rep pipeline, two expansion joins), and column
    * pruning specializes each occurrence enough that exchange reuse
    * never fires — persisting both sides once per (session, dir,
    * derivation) makes the window shuffle a one-time cost, like the
    * other shared text derivations. The cached frames are
    * doc-id-and-counts metadata (plus one sorted set array per
    * DISTINCT set in groups) — far smaller than the corpus the pair
    * stages would otherwise re-shuffle.
    */
  private[graft] def shingleCollapsed(s: SparkSession, d: String)
      : graft.operators.DupCollapse.Collapsed =
    memo(s, d, "shingleCollapse")(
      graft.operators.DupCollapse.collapse(shingleSets(s, d), "doc_id", "sh"))

  /** The REPRESENTATIVE-level jaccard pair graph (one node per
    * distinct shingle set) — the small graph everything else derives
    * from: jaccardPairs expands it to member pairs (q27's report
    * contract), q46 runs connected components directly on it (clique
    * expansion would multiply the edge list by Σ clique² for zero
    * information). Memoized + persisted like the other shared
    * derivations.
    */
  private def jaccardRepPairs(s: SparkSession, d: String,
      thresh: Double): DataFrame =
    memo(s, d, "jaccardRepPairs", thresh) {
      val c = shingleCollapsed(s, d)
      // explode_outer, NOT explode: InferFiltersFromGenerate would add
      // `size(key)>0 AND isnotnull(key)` to a plain explode, and the
      // inferred filter's pushdown reshapes the shared collapse window
      // subtree — the outer variant keeps both consumers' subtrees
      // identical so the window exchange is reused, not recomputed.
      val sh = c.groups
        .select(col("gid").as("doc_id"), col("n"), explode_outer(col("key")).as("s"))
        .filter(col("s").isNotNull)
      graft.operators.KeyedPairs
        .pairs(sh, Seq("s"), struct(col("doc_id"), col("n")), PairCap)
        .select(col("pa.doc_id").as("ga"), col("pa.n").as("na"),
                col("pb.doc_id").as("gb"), col("pb.n").as("nb"))
        .groupBy(col("ga"), col("gb"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared"))
        .withColumn("jaccard",
          col("shared").cast("double") / (col("na") + col("nb") - col("shared")))
        .filter(col("jaccard") >= thresh)
    }

  private def jaccardPairsUncached(s: SparkSession, d: String, thresh: Double): DataFrame = {
    import graft.operators.DupCollapse
    // exact-duplicate collapse first (same reasoning as winnowPairs):
    // jaccard/shared/na/nb are pure functions of the two docs' shingle
    // SETS, so the quadratic pair stage runs over one representative
    // per distinct set. On the amplified ×10-clique corpus the raw
    // build's (shingle, pair) volume is ×100 of this one's; the output
    // is row-identical (within a group: shared = na = nb = n and
    // jaccard = n/n = 1.0 exactly — the raw division's value).
    val c = shingleCollapsed(s, d)
    val within = DupCollapse.withinPairs(c.members, PairCap)
      .filter(lit(1.0) >= thresh)
      .select(col("da"), col("db"), col("n").cast("long").as("shared"),
        col("n").as("na"), col("n").as("nb"), lit(1.0).as("jaccard"))
    val repPairs = jaccardRepPairs(s, d, thresh)
    val cross = DupCollapse.expandPairs(repPairs, c.members, swap = Seq(("na", "nb")))
    within.unionByName(cross)
      .select(col("da"), col("db"), col("shared"), col("na"), col("nb"), col("jaccard"))
  }

  /** q60's pair graph with the cross-cell recall knob. nAssign=1 is
    * the published single-cell SemDeDup tradeoff (pairs straddling a
    * cell boundary are missed by construction); nAssign>1 assigns each
    * vector to its nAssign nearest cells so a boundary pair co-locates
    * in a shared runner-up cell — recall rises at ~nAssign× pairing
    * volume. A pair sharing two cells is emitted from both, so the
    * multi-assign path dedupes before clustering (cheap: the graph is
    * threshold-sparse). Still never all-pairs, still map-only
    * assignment; driver state stays model-sized.
    */
  private[graft] def semanticDedupPairs(s: SparkSession, d: String,
      nAssign: Int, thresh: Double): DataFrame = {
    import graft.operators.{DupCollapse, IvfIndex, KeyedPairs}
    // the persisted probe corpus IS spread(embeddings) — one shuffle
    // per session instead of one per invocation (round 18)
    val e = embCorpus(s, d)
    // model trained on the FULL corpus (identical centroids with or
    // without duplicates MATTERS: the store fingerprints the raw
    // corpus); the pair stage then runs over one representative per
    // DISTINCT vector. cos(a, b) is a pure function of the two
    // vectors, and cell assignment is a pure function of one vector —
    // so identical vectors share every cell and every pair value, and
    // collapse (DupCollapse, exact-key: element ORDER is the vector)
    // is output-invisible while cutting the cell pair stage by the
    // square of the duplication factor. The amplified corpus (×4
    // vector cliques) is the shape real crawls have.
    val cents = ivfModel(s, d, 16)
    val c = memo(s, d, "vecCollapse")(
      DupCollapse.collapseExact(e, "vec_id", "embedding"))
    val reps = c.groups.select(col("gid").as("vec_id"), col("key").as("embedding"))
    // memoized pin (round 19 — was a per-invocation persist that was
    // never released): the small and big routing arms both read this,
    // and each read would otherwise re-run the k-centroid assignment +
    // norm per rep (measured: assignment was ~half of the pair stage
    // at sf0.1). The pinned relation is (rep × nAssign) rows —
    // reps-sized, the same scale class as the memoized collapse it
    // derives from.
    val assigned = memo(s, d, "semAssign", nAssign)(
      IvfIndex.assignMulti(reps, "embedding", cents, nAssign)
        .withColumn("nrm", l2(col("embedding")))
        // match the exact reference kernel's Java-comparison contract
        // (ThresholdDotPairs drops nrm <= 0 and NaN at extract): a
        // zero-norm rep in a shared cell would make cos = 0/0 = NaN,
        // and Spark orders NaN above every double so `NaN >= thresh`
        // passes — phantom pairs the reference never emits
        .filter(col("nrm") > 0 && !isnan(col("nrm"))))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    // FUSED cell-pair scoring (round 18): the unfused form expanded
    // every cell bucket into cap²-scale pair structs — each carrying
    // TWO embedding copies — before the cosine filter dropped ~all of
    // them (gigabytes of transient rows per action at sf0.1). The
    // ThresholdDotPairs kernel scores each bucket/block-pair group in
    // place with the same left-to-right double fold, Java `>= thresh`
    // (NaN rejected) and nrm > 0 contract the old column chain's
    // guards replicated, so only the threshold-sparse survivor graph
    // leaves the task — exactly exactCosPairs' shape, now keyed.
    val repPairs0 = KeyedPairs.pairsGrouped(assigned, Seq("cell"), payload, PairCap)
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .thresholdDotPairs(col("as_"), col("bs"), col("diag"), thresh)).as("pr"))
      .select(col("pr.va").as("ga"), col("pr.vb").as("gb"))
    // dedupe BEFORE expansion (cheaper than after; same result set)
    val repPairs = if (nAssign == 1) repPairs0 else repPairs0.distinct()
    val cross = DupCollapse.expandPairs(repPairs, c.members)
      .select(col("da").as("va"), col("db").as("vb"))
    // within a group the pair cos is dot(v,v)/(l2·l2) — the SAME
    // division over the same bits the raw pipeline evaluated, so the
    // emit decision (>= thresh) is bit-identical — and identical
    // vectors co-locate in all nAssign cells by construction, so
    // co-location never gates a within pair. The when() guards the
    // ANSI divide for zero-norm groups (the raw path throws on a
    // zero-norm PAIR; the exact reference graph excludes them with
    // nrm > 0 — dropping them here matches that contract).
    // l2 > 0 must carry the isnan guard: Spark SQL orders NaN above
    // every double, so a NaN-norm clique would pass `> 0` here while
    // the exact reference kernel's Java comparison excludes it; the
    // cos gate needs its own !isnan too — an Inf-norm vector passes
    // the norm gate but divides to NaN (phantom pairs and a false
    // pairs_subset_ok gate either way)
    val withinCos = dotd(col("key"), col("key")) /
      (l2(col("key")) * l2(col("key")))
    val withinOk = c.groups
      .filter(when(l2(col("key")) > 0 && !isnan(l2(col("key"))),
        withinCos >= thresh && !isnan(withinCos)).otherwise(lit(false)))
      .select(col("gid"))
    val within = DupCollapse.withinPairs(c.members, PairCap)
      .join(withinOk, Seq("gid"), "left_semi")
      .select(col("da").as("va"), col("db").as("vb"))
    within.unionByName(cross)
  }

  /** Exact cosine>=thresh pair graph over the embedding corpus:
    * blocked all-pairs via KeyedPairs (bounded tasks, nothing
    * broadcast — never a cross join). The validation reference for
    * q60's gate and the semantic-dedup specs; past the gate threshold
    * q60 passes `sampleMod` > 1 so this quadratic reference runs over
    * the deterministic Lehmer slice (see gateSampleMod) — the standard
    * recall-audit shape — instead of the full corpus. Returns
    * (va, vb, cos) with va < vb, cos unrounded.
    */
  def exactCosPairs(s: SparkSession, d: String, thresh: Double,
      sampleMod: Long = 1L): DataFrame = {
    import graft.operators.KeyedPairs
    // read from the persisted probe corpus (= spread(embeddings),
    // already 32-way) — the sampled slice is then a map-side filter on
    // cached blocks instead of a fresh scan + shuffle per invocation
    val in =
      if (sampleMod <= 1L) embCorpus(s, d)
      else embCorpus(s, d).filter(lehmerSampled(col("vec_id"), sampleMod))
    val e = in.withColumn("nrm", l2(col("embedding")))
    val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
    // fused scoring (ThresholdDotPairs): the double loop runs inside
    // one eval per block-pair task and only the threshold-sparse graph
    // leaves it — the unfused form materialized cap² pair structs with
    // two embedding copies each before the filter dropped ~all of them.
    // Block sizing comes from the memoized corpus count (÷ the Lehmer
    // modulus for the sampled gate path — the slice is ~uniform, so
    // the estimate is within a small factor and the task bound holds):
    // no eager counting scan per invocation (round 18, guide §1.2).
    val nEst = math.max(1L, corpusVecs(s, d) / math.max(1L, sampleMod))
    KeyedPairs.allPairsGrouped(e, payload, cap = 256, nEst)
      .select(explode(org.apache.spark.sql.graftfns.PairFunctions
        .thresholdDotPairs(col("as_"), col("bs"), col("bi") === col("bj"), thresh)).as("pr"))
      .select(col("pr.va").as("va"), col("pr.vb").as("vb"), col("pr.cos").as("cos"))
  }

  /** Q60 body: cluster the semantic pair graph, keep the lowest vec_id
    * per connected duplicate cluster (the embedding-side analogue of
    * q46's text dedup). See semanticDedupPairs for the nAssign knob.
    */
  def semanticDedup(s: SparkSession, d: String, nAssign: Int = 1,
                    thresh: Double = 0.40): DataFrame =
    graft.operators.ConnectedComponents
      .componentsAuto(semanticDedupPairs(s, d, nAssign, thresh), "va", "vb")
      .select(col("id").as("vec_id"), col("comp").as("keep_id"))
      .orderBy(col("vec_id"))

  /** Q61 body. exact=true is the oracle form (interpolated
    * percentile()); exact=false is the 100 TB path — approx_percentile
    * (sketch-backed, mergeable map-side, no per-group sort buffer),
    * `accuracy` trading rank error (~1/accuracy) for sketch size. Same
    * plan shape either way: a lang-cardinality bounds table broadcast
    * back onto a map-only corpus pass. LlmQueriesSpec asserts the
    * approximate gate stays within the exact gate's tolerance.
    */
  def percentileGate(s: SparkSession, d: String, exact: Boolean = true,
                     accuracy: Int = 10000): DataFrame = {
    val docs = documents(s, d)
    val (loE, hiE) =
      if (exact) (expr("percentile(n_chars, 0.05)"), expr("percentile(n_chars, 0.95)"))
      else (expr(s"approx_percentile(n_chars, 0.05, $accuracy)").cast("double"),
            expr(s"approx_percentile(n_chars, 0.95, $accuracy)").cast("double"))
    val bounds = docs.groupBy(col("lang")).agg(loE.as("lo"), hiE.as("hi"))
    docs.join(broadcast(bounds), Seq("lang"))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        rk(col("lo"), 4).as("lo"), rk(col("hi"), 4).as("hi"))
      .orderBy(col("doc_id"))
  }

  /** 16 minhash values per doc: min over shingles of xxhash64(seed_i, s). */
  private val NumHashes = MinHashUnion.NumHashes  // single source of truth

  /** SimHash near-dup with parametric pigeonhole blocking. Kept as the
    * single-block-key entry point (blocksPerKey = 1): two docs within
    * hamming distance nBlocks-1 share at least one slice verbatim, so
    * candidate recall for the hamming<=3 confirm is guaranteed for any
    * nBlocks >= 4.
    */
  def simhashPairs(s: SparkSession, d: String, nBlocks: Int): DataFrame =
    simhashPairs(s, d, nBlocks, 1)

  /** Generalized pigeonhole blocking over block COMBINATIONS (Manku et
    * al., WWW'07 §3; math in LshTuning): the 64-bit simhash splits into
    * `blocks` equal-width slices and candidate buckets are keyed on
    * every `blocksPerKey`-combination of slices. A pair within hamming
    * h differs in at most h blocks, so while blocks - blocksPerKey >= 3
    * some combination is clean on both sides of every hamming<=3 pair —
    * recall is GUARANTEED for ANY legal config (the q29 gate exploits
    * this: two different configs must produce identical pair sets).
    * blocksPerKey > 1 widens keys to blocksPerKey·(64/blocks) bits —
    * the corpus-scale lever: C(B,j) keys/doc (linear shuffle growth)
    * buys exponentially smaller bucket populations (quadratic in-bucket
    * work). One simhash lineage feeds KeyedPairs (the round-1 shape
    * self-joined the lineage, computing the 64 bit-sums twice).
    */
  def simhashPairs(s: SparkSession, d: String, blocks: Int, blocksPerKey: Int): DataFrame = {
    import graft.operators.DupCollapse
    val bl = graft.operators.LshTuning.SimHashBlocking(blocks, blocksPerKey)
    val cap = graft.operators.LshTuning.pairCap(corpusDocs(s, d))
    // full-corpus path: exact-duplicate collapse by signature value
    // (the scalar analog of the winnow/jaccard set collapse) — hamming
    // is a pure function of (sig_a, sig_b) and identical sigs share
    // EVERY combo bucket, so equal-sig docs are interchangeable in the
    // pair stage: within a sig group every pair is hamming 0 (always
    // emitted), and the banded expansion runs over one representative
    // per distinct sig. On a clique-heavy corpus the bucket
    // populations (the quadratic term) shrink by the duplication
    // factor. The collapse is memoized+persisted per (session, dir);
    // the SAMPLED gate paths (q29's ~1k-doc cross-validation) go
    // through simhashPairsFrom raw — at bounded sample size the
    // collapse's extra stages cost more than they save.
    val c = memo(s, d, "simhashCollapse")(
      DupCollapse.collapseExact(
        simhashes(s, d).select(col("doc_id"), array(col("simhash")).as("sk")),
        "doc_id", "sk"))
    val reps = c.groups.select(col("gid").as("doc_id"),
      col("key").getItem(0).as("simhash"))
    val repPairs = simhashPairsCore(reps, bl, cap)
      .select(col("da").as("ga"), col("db").as("gb"), col("hamming"))
    val cross = DupCollapse.expandPairs(repPairs, c.members)
    val within = DupCollapse.withinPairs(c.members, cap)
      .select(col("da"), col("db"), lit(0).as("hamming"))
    within.unionByName(cross)
      .select(col("da"), col("db"), col("hamming"))
      .orderBy(col("da"), col("db"))
  }

  /** The pair generator over an explicit (doc_id, simhash) frame —
    * q29's gate runs two blocking configs over a SAMPLED sub-corpus
    * through this, so the cross-validation cost stays bounded at any
    * corpus size while the shipped pair set still derives from the
    * full corpus.
    */
  private def simhashPairsFrom(sim: DataFrame,
      bl: graft.operators.LshTuning.SimHashBlocking, cap: Int): DataFrame =
    simhashPairsCore(sim, bl, cap).orderBy(col("da"), col("db"))

  /** The banded pair kernel over an explicit (doc_id, simhash) frame:
    * (da, db, hamming), UNSORTED. Shared by the raw sampled-gate path
    * and the collapsed full-corpus path (which feeds representatives
    * through it and expands the results back to members).
    */
  private def simhashPairsCore(sim: DataFrame,
      bl: graft.operators.LshTuning.SimHashBlocking, cap: Int): DataFrame = {
    val blocks = bl.blocks
    val blocksPerKey = bl.blocksPerKey
    val width = 64 / blocks
    val mask = (1L << width) - 1
    val combos: Seq[Seq[Int]] =
      (0 until blocks).combinations(blocksPerKey).map(_.toSeq).toSeq
    def blockVal(sim: Column, b: Int): Column =
      shiftright(sim, b * width).bitwiseAND(mask)
    // combo key: the j block values packed into one long (j·width <= 56
    // bits for every legal config, so no overflow)
    def comboKey(sim: Column, combo: Seq[Int]): Column =
      combo.zipWithIndex.map { case (b, i) => shiftleft(blockVal(sim, b), i * width) }
        .reduce((x, y) => x.bitwiseOR(y))
    // MAP-ONLY simhash: the native SimHash64 expression dedupes tokens,
    // hashes, and majority-votes the 64 bits inside one codegen'd loop
    // per row. The exploded form it replaces (explode(array_distinct) →
    // xxhash64 → 64 bit-sum aggregates) shuffled tokens×docs rows
    // through a 65-column aggregation — at corpus scale THE shuffle of
    // this query; now per-doc state never leaves the row (bit-equality
    // proven in TextExprSpec; ties 2*S_b == N break to 0 both ways).
    // Docs with no usable tokens get NULL (the groupBy form dropped
    // them) — filtered behind the simhashes cache boundary (which also
    // stops the optimizer re-evaluating simhash64 inside the filter
    // and once per KeyedPairs consumer).
    val keyed = sim.select(col("doc_id"), col("simhash"),
        explode(array(combos.zipWithIndex.map { case (combo, ci) =>
          struct(lit(ci).as("ck"), comboKey(col("simhash"), combo).as("v")) }: _*)).as("kb"))
      .select(col("doc_id"), col("simhash"), col("kb.ck"), col("kb.v"))
    // EMIT-ONCE dedup, no distinct shuffle: a near-dup pair shares
    // several combo keys and would surface once per shared combo;
    // instead of collecting all copies and running distinct over the
    // multiplied pair volume, each pair is kept only in its FIRST
    // clean combo — computable per pair from the two simhashes alone
    // (the clean-combo set is a pure function of sa^sb), so the check
    // is a map-side filter on the pair stream and every pair survives
    // exactly once globally.
    val pairs = graft.operators.KeyedPairs
      .pairs(keyed, Seq("ck", "v"),
        struct(col("doc_id"), col("simhash"), col("ck")), cap)
    val xor = col("pa.simhash").bitwiseXOR(col("pb.simhash"))
    def comboClean(combo: Seq[Int]): Column =
      combo.map(b => blockVal(xor, b) === 0).reduce(_ && _)
    val firstShared = array_min(array(combos.zipWithIndex.map { case (combo, ci) =>
      when(comboClean(combo), lit(ci)) }: _*))
    pairs
      .filter(col("pa.ck") === firstShared)
      .select(col("pa.doc_id").as("da"), col("pb.doc_id").as("db"),
        bit_count(xor).as("hamming"))
      .filter(col("hamming") <= 3)
  }

  /** Several blocking configs through ONE banded pair pass (round 18,
    * q29's gate): the per-config keyed explodes union with a `cfg`
    * tag that is part of the bucket key — pairs form within a config
    * only, so each config's pair set is exactly [[simhashPairsCore]]'s
    * — and the single KeyedPairs invocation pays ONE hot-key pass and
    * ONE routing/expansion pipeline instead of one per config. The
    * emit-once filter picks each row's own config's first-clean-combo
    * (a per-cfg CASE over the same xor). Returns (da, db, hamming,
    * cfg), UNSORTED; hamming <= 3 filtered like the single-config
    * kernel.
    */
  private def simhashPairsMulti(sim: DataFrame,
      bls: Seq[graft.operators.LshTuning.SimHashBlocking], cap: Int): DataFrame = {
    def blockVal(c: Column, b: Int, width: Int, mask: Long): Column =
      shiftright(c, b * width).bitwiseAND(mask)
    def comboKey(c: Column, combo: Seq[Int], width: Int, mask: Long): Column =
      combo.zipWithIndex.map { case (b, i) =>
        shiftleft(blockVal(c, b, width, mask), i * width) }
        .reduce((x, y) => x.bitwiseOR(y))
    def combosOf(bl: graft.operators.LshTuning.SimHashBlocking): Seq[Seq[Int]] =
      (0 until bl.blocks).combinations(bl.blocksPerKey).map(_.toSeq).toSeq
    val keyed = sim.select(col("doc_id"), col("simhash"),
        explode(array(bls.zipWithIndex.flatMap { case (bl, cfg) =>
          val width = 64 / bl.blocks
          val mask = (1L << width) - 1
          combosOf(bl).zipWithIndex.map { case (combo, ci) =>
            struct(lit(cfg).as("cfg"), lit(ci).as("ck"),
              comboKey(col("simhash"), combo, width, mask).as("v")) }
        }: _*)).as("kb"))
      .select(col("doc_id"), col("simhash"),
        col("kb.cfg"), col("kb.ck"), col("kb.v"))
    val pairs = graft.operators.KeyedPairs
      .pairs(keyed, Seq("cfg", "ck", "v"),
        struct(col("doc_id"), col("simhash"), col("ck"), col("cfg")), cap)
    val xor = col("pa.simhash").bitwiseXOR(col("pb.simhash"))
    def firstSharedOf(bl: graft.operators.LshTuning.SimHashBlocking): Column = {
      val width = 64 / bl.blocks
      val mask = (1L << width) - 1
      array_min(array(combosOf(bl).zipWithIndex.map { case (combo, ci) =>
        when(combo.map(b => blockVal(xor, b, width, mask) === 0)
          .reduce(_ && _), lit(ci)) }: _*))
    }
    val firstShared = bls.zipWithIndex.tail.foldLeft(
        when(col("pa.cfg") === 0, firstSharedOf(bls.head))) {
      case (acc, (bl, cfg)) => acc.when(col("pa.cfg") === cfg, firstSharedOf(bl))
    }
    pairs
      .filter(col("pa.ck") === firstShared)
      .select(col("pa.doc_id").as("da"), col("pb.doc_id").as("db"),
        bit_count(xor).as("hamming"), col("pa.cfg").as("cfg"))
      .filter(col("hamming") <= 3)
  }

  /** simhashPairs with the corpus-derived blocking from LshTuning. */
  def simhashPairsAuto(s: SparkSession, d: String): DataFrame = {
    val bl = graft.operators.LshTuning.simhashBlocking(corpusDocs(s, d))
    simhashPairs(s, d, bl.blocks, bl.blocksPerKey)
  }

  /** MinHash-LSH near-dup pairs under an explicit banding scheme:
    * signature pass over the cached shingle sets, band-bucket candidate
    * generation through KeyedPairs, exact-Jaccard confirmation on
    * candidates only (never all-pairs). Factored out of q28 so the gate
    * can compare schemes; scheme selection math lives in LshTuning.
    * Returns (da, db, jaccard) with jaccard unrounded.
    */
  def minhashPairs(s: SparkSession, d: String,
      scheme: graft.operators.LshTuning.MinHashScheme): DataFrame = {
    import graft.operators.DupCollapse
    val cap = graft.operators.LshTuning.pairCap(corpusDocs(s, d))
    // full-corpus path through the memoized shingle-set collapse (the
    // same groups q27/q46/q65 share): the minhash signature is an
    // order-free pure function of the shingle SET, so identical-set
    // docs share signature, band buckets, and confirmed jaccard —
    // banding + confirmation run over one representative per distinct
    // set, within-group pairs are jaccard 1.0 by identity (the raw
    // confirm's n/n division), and rep pairs expand to member pairs.
    // q28's sampled gate path keeps the raw minhashPairsFrom.
    val c = shingleCollapsed(s, d)
    val repSets = c.groups.select(col("gid").as("doc_id"), col("key").as("sh"))
    val repPairs = minhashPairsFrom(repSets, scheme, cap)
      .select(col("da").as("ga"), col("db").as("gb"), col("jaccard"))
    val cross = DupCollapse.expandPairs(repPairs, c.members)
    val within = DupCollapse.withinPairs(c.members, cap)
      .select(col("da"), col("db"), lit(1.0).as("jaccard"))
    within.unionByName(cross)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** The pair generator over an explicit (doc_id, sh) frame — q28's
    * gate runs over a SAMPLED sub-corpus through this past the gate
    * threshold, so the audit cost stays bounded at any corpus size.
    */
  private def minhashPairsFrom(sets: DataFrame,
      scheme: graft.operators.LshTuning.MinHashScheme, cap: Int): DataFrame = {
    // ONE pass computes the shingle sets (cached); signatures are a
    // map-only native expression over the cached arrays — no
    // explode+groupBy shuffle at all — and the confirmation join below
    // re-reads the same cache instead of re-running the interpreted
    // chain (the round-1 3×-recompute that made this the slowest query).
    // Band rows come from THE shared derivation (IncrementalDedup
    // .bandedSignatures) so batch, streaming, and the persisted index
    // can never disagree on a bucket.
    val exploded = graft.operators.IncrementalDedup
      .bucketIndex(sets, "doc_id", "sh", scheme)
    // band buckets → candidate pairs, hot buckets split into bounded
    // block-pair tasks (a viral doc cluster can put thousands of
    // near-identical docs into one bucket)
    val cand = graft.operators.KeyedPairs
      .pairs(exploded, Seq("band", "bucket"), col("doc_id"), cap)
      .select(col("pa").as("da"), col("pb").as("db")).distinct()
    // Exact-Jaccard confirmation on CANDIDATES ONLY: join the (small)
    // candidate pair set against the cached per-doc shingle arrays
    // and intersect directly — not a re-run of the full pipeline.
    // Same integers as the inverted-index count, so results match q27's.
    val a = sets.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sets.select(col("doc_id").as("db"), col("sh").as("sb"))
    cand.join(a, Seq("da")).join(b, Seq("db"))
      .withColumn("shared", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("shared").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("shared")))
      .filter(col("jaccard") >= 0.5)
      .select(col("da"), col("db"), col("jaccard"))
  }

  /** Exact brute-force cosine top-k against the vec_id=0 query vector:
    * broadcast of the single query row + map-side fold +
    * TakeOrderedAndProject — fully parallel, no shuffle of the corpus.
    * Returns (vec_id, cos) UNROUNDED; q25 rounds for its oracle, and
    * the ANN gates (q31/q42/q53) use it as the checked reference.
    */
  def exactCosTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    // probe vector as a PLAN LITERAL over the persisted corpus: the
    // old shape re-shuffled the embeddings (spread) and ran a
    // broadcast-exchange job for the one query row on EVERY execution
    // — now one map stage + TakeOrdered, nothing else
    val qv = queryVec(s, d)
    embCorpus(s, d)
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"),
        (dotd(col("embedding"), typedLit(qv)) /
          (l2(col("embedding")) * lit(qNorm(qv)))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** Multi-table random-hyperplane LSH ANN (the round-6 replacement for
    * the single-table 6-bit probe, whose measured recall@5 at sf0.01
    * was 0/5 — vec 0's true neighbors sit at cosine ~0.30–0.37, i.e.
    * ~70° angles where P(bit agree) = 1 - θ/π ≈ 0.61, so one table
    * cannot separate them from the bulk). Standard L-table construction:
    * each table hashes to `bits` sign bits; the query probes every
    * bucket within hamming `radius` of its signature in EVERY table;
    * the candidate union is exact-reranked. Index rows are (vec_id,
    * table, bucket) — narrow; embeddings are joined back only for the
    * candidate set, so the ×L index never copies vectors. At 100 TB the
    * probe list stays a broadcast literal and candidate rerank touches
    * the measured candidate fraction of the corpus (logged in the
    * scaladoc of q31; the S-curve math is the same family as
    * LshTuning.minhashScheme).
    */
  /** Flat layout planes[(t*bits + j)*dim + i] — the SAME Gaussian draw
    * sequence as the nested fill it replaced, consumed by the fused
    * HyperplaneSigs kernel (one native loop per row computing all L
    * buckets; the composed form built tables×bits DotProduct nodes in
    * one Generate projection). Deterministic in the seed, so the
    * persisted index needs no plane payload — probes re-derive them.
    */
  private def lshPlanes(tables: Int, bits: Int, seed: Long,
      dim: Int): Array[Float] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(tables * bits * dim)(rnd.nextGaussian().toFloat)
  }

  /** The multi-table LSH ANN index — (vec_id, tbl, bucket) ×L, 16
    * bytes/row before encoding — memoized per (session, dir, scheme)
    * and persisted through the staged-relation store (manifest keyed
    * on the EMBEDDINGS-corpus fingerprint): a fresh JVM loads the
    * parquet instead of re-running the ×L signature pass over the
    * corpus, and staleness follows the same contract as IVF/PQ.
    */
  private def lshIndex(s: SparkSession, d: String, tables: Int, bits: Int,
      seed: Long, dim: Int): DataFrame =
    memo(s, d, "lshIndex", tables, bits, seed, dim)(
      stagedRel(s, d, s"lshann_t${tables}_b${bits}_s$seed", embeddingsFingerprint(s, d))(
        spread(embeddings(s, d), col("vec_id"))
          .select(col("vec_id"),
            posexplode(org.apache.spark.sql.graftfns.VectorFunctions
              .hyperplaneSigs(col("embedding"),
                lshPlanes(tables, bits, seed, dim), tables, bits, dim)))
          .toDF("vec_id", "tbl", "bucket")))

  def annLshTopK(s: SparkSession, d: String, tables: Int, bits: Int,
      radius: Int, seed: Long, k: Int): DataFrame = {
    require(bits <= 30 && radius >= 0 && radius <= 3)
    val dim = 64
    val planes = lshPlanes(tables, bits, seed, dim)
    val e = embCorpus(s, d)
    // narrow index: (vec_id, tbl, bucket) ×L — served from the model
    // store (built once per corpus, like IVF/PQ), never rebuilt per
    // query; the ×L signature pass over the corpus was the one ANN
    // path still paying its index inside every probe (VERDICT r10)
    val index = lshIndex(s, d, tables, bits, seed, dim)
    val qv = queryVec(s, d)
    def sigOf(t: Int): Int =
      (0 until bits).foldLeft(0) { (acc, j) =>
        var dot = 0.0
        var i = 0
        val base = (t * bits + j) * dim
        while (i < dim && i < qv.length) { dot += planes(base + i).toDouble * qv(i).toDouble; i += 1 }
        if (dot > 0) acc | (1 << j) else acc
      }
    // multiprobe: all bit-flip masks of weight <= radius, per table
    val masks: Seq[Int] = (0 to radius).flatMap(r =>
      (0 until bits).combinations(r).map(_.foldLeft(0)((m, j) => m | (1 << j))))
    val probeRows = (0 until tables).flatMap { t =>
      val base = sigOf(t); masks.map(m => (t, base ^ m))
    }
    import s.implicits._
    val probes = probeRows.toDF("tbl", "bucket")
    // no distinct: the left-semi join below already dedups candidate
    // ids — the explicit distinct cost one more exchange per probe
    val candIds = index.join(broadcast(probes), Seq("tbl", "bucket"))
      .filter(col("vec_id") =!= 0)
      .select(col("vec_id"))
    e.join(candIds, Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        (dotd(col("embedding"), typedLit(qv)) /
          (l2(col("embedding")) * lit(qNorm(qv)))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** IVF-probe ANN (factored q42 body): map-only cell assignment, the
    * nProbe nearest cells probed driver-side, exact rerank on cell
    * members only. Returns (vec_id, cos) unrounded.
    */
  def annIvfTopK(s: SparkSession, d: String, nProbe: Int, k: Int): DataFrame = {
    val kCells = 16
    val qv = queryVec(s, d)
    val cells = graft.operators.IvfIndex.probeCells(qv, ivfModel(s, d, kCells), nProbe)
    // probes hit the STAGED assigned relation (cell-partitioned
    // parquet + in-session persist) — the old shape re-ran the 16-dot
    // assignment pass over a freshly shuffled corpus on every query;
    // now a probe is filter + rerank over the cached index, and a
    // fresh JVM partition-prunes to the probed cell directories
    ivfAssigned(s, d, kCells)
      .filter(col("cell").isin(cells: _*) && col("vec_id") =!= 0)
      .select(col("vec_id"),
        (dotd(col("embedding"), typedLit(qv)) /
          (l2(col("embedding")) * lit(qNorm(qv)))).as("cos"))
      .orderBy(col("cos").desc, col("vec_id")).limit(k)
  }

  /** The served IVF index: (vec_id, embedding, cell) staged as
    * cell-partitioned parquet once per corpus fingerprint, persisted
    * per session — the loaded-index DataFrame cache the probe path
    * serves from (train once, assign once, probe forever).
    */
  private def ivfAssigned(s: SparkSession, d: String, kCells: Int): DataFrame =
    memo(s, d, "ivfAssigned", kCells)(
      stagedRel(s, d, s"ivfassign_k${kCells}_i2",
        embeddingsFingerprint(s, d), partitionCols = Seq("cell"))(
        graft.operators.IvfIndex.assign(embCorpus(s, d), "embedding", ivfModel(s, d, kCells))))

  /** PQ-ADC ANN (factored q53 body). Returns (vec_id, cos) unrounded. */
  def annPqTopK(s: SparkSession, d: String, k: Int): DataFrame = {
    val model = pqModel(s, d)
    val qv = queryVec(s, d)
    // probes serve from the STAGED encoded relation — the old shape
    // re-ran the m-argmin encode pass over a freshly shuffled corpus
    // on every query; a probe is now ADC lookups + shortlist rerank
    // over the cached codes
    graft.operators.PqIndex.search(pqEncoded(s, d).filter(col("vec_id") =!= 0),
      "vec_id", "embedding", model, qv, topK = k)
      .select(col("vec_id"), col("cos"))
  }

  /** The served PQ index: (vec_id, embedding, pqcode) staged once per
    * corpus fingerprint, persisted per session — codes for the ADC
    * pass, float vectors fetched only by the shortlist rerank.
    */
  private def pqEncoded(s: SparkSession, d: String): DataFrame =
    memo(s, d, "pqEncoded")(
      stagedRel(s, d, "pqcodes_m8_k16_i2", embeddingsFingerprint(s, d))(
        graft.operators.PqIndex.encode(embCorpus(s, d), "embedding", pqModel(s, d))))

  /** Q63 body with an explicit winnowing window: per-position
    * polynomial shingle hashes → window minima (native codegen'd
    * WinnowFingerprints) → fp-keyed pair stage (KeyedPairs-bounded),
    * pairs sharing >= 3 fingerprints. Factored so the spec can compare
    * the corpus-derived window against an explicit one.
    */
  def winnowPairs(s: SparkSession, d: String, window: Int): DataFrame = {
    import graft.operators.{DupCollapse, KeyedPairs}
    val cap = graft.operators.LshTuning.pairCap(corpusDocs(s, d))
    // exact-duplicate collapse first: `shared` is |fp-set ∩| — a pure
    // function of the two docs' fingerprint SETS — so identical-set
    // docs (exact duplicates after tokenization) are interchangeable
    // in the pair stage. The quadratic inverted-index expansion runs
    // over one representative per distinct set; member pairs expand
    // back afterwards. On a duplicate-heavy corpus (the amplified
    // bench's ×10 cliques; any real crawl) this cuts the (fp, pair)
    // intermediate by the SQUARE of the duplication factor while
    // producing row-identical output (DupCollapseSpec diffs the plans).
    val c = memo(s, d, "winnowCollapse", window)(
      DupCollapse.collapse(
        docToks(s, d).select(col("doc_id"),
          org.apache.spark.sql.graftfns.TextFunctions
            .winnowFingerprints(col("toks"), 3, window).as("fps")),
        "doc_id", "fps"))
    // within a group every pair shares the whole set: shared = n
    val within = DupCollapse.withinPairs(c.members, cap, minN = 3)
      .select(col("da"), col("db"), col("n").cast("long").as("shared"))
    // across groups: the raw pipeline, over representatives only.
    // Memoized pin (round 19 — was a per-invocation persist, never
    // released): the routing arms read this twice, and each read
    // re-runs the fingerprint explode over every rep otherwise.
    val repFps = memo(s, d, "winnowRepFps", window)(
      c.groups.filter(col("n") > 0)
        .select(col("gid").as("doc_id"), explode(col("key")).as("fp")))
    val repPairs = KeyedPairs.pairs(repFps, Seq("fp"), col("doc_id"), cap)
      .select(col("pa").as("ga"), col("pb").as("gb"))
      .groupBy(col("ga"), col("gb"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    val cross = DupCollapse.expandPairs(repPairs, c.members)
    within.unionByName(cross).orderBy(col("da"), col("db"))
  }

  /** The checked-ANN output shape shared by q31/q42/q53: rows are the
    * EXACT top-k reference (vec_id + rounded cosine — fully replicated
    * by the DuckDB oracle), and `recall_ok` gates that the ANN run
    * recovered at least `minHits` of them. The ANN pipeline is executed
    * in full; what the correctness row records is its measured recall
    * against the exact answer — the round-5 `no_oracle` rows turned
    * into real pass/fail gates. (An exact reference is affordable here
    * by design: recall validation at 100 TB runs on a sampled probe
    * set, which is precisely this query's shape.)
    */
  private def annChecked(exact: DataFrame, ann: DataFrame, minHits: Int): DataFrame = {
    // the gate as a WINDOW over the k exact rows (left-outer hit mark,
    // sum over the unpartitioned frame): the old agg + crossJoin
    // (broadcast) shape cost two extra exchanges and re-executed the
    // exact subtree — here exact runs once and the single-partition
    // window sees exactly k rows (exact is a top-k), so the "whole
    // relation in one task" window anti-pattern doesn't apply
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    exact.join(ann.select(col("vec_id"), lit(1).as("__hit")),
        Seq("vec_id"), "left_outer")
      .withColumn("recall_ok",
        sum(coalesce(col("__hit"), lit(0))).over(w) >= minHits)
      .orderBy(col("cos").desc, col("vec_id"))
      .select(col("vec_id"), rk(col("cos"), 6).as("cosine"), col("recall_ok"))
  }

  val all: Map[String, Q] = Map(
    // Q24 — exact dedup: hash-groupBy on the full text, keep MIN(doc_id).
    // One shuffle keyed by text (at 100 TB: key by a 128-bit digest of
    // the text instead of shipping full bodies through the shuffle).
    "q24_exact_dedup" -> ((s, d) =>
      documents(s, d).groupBy(col("text"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .select(col("keep_id"), col("n_copies"))
        .orderBy(col("keep_id"))),

    // Q25 — brute-force cosine top-k=5 against a fixed query vector
    // (vec_id=0). Broadcast of the single query row + map-side fold +
    // TakeOrderedAndProject: fully parallel, no shuffle of the corpus.
    "q25_cosine_topk" -> ((s, d) =>
      exactCosTopK(s, d, 5)
        .select(col("vec_id"), rk(col("cos"), 6).as("cosine"))),

    // Q26 — token counting: top-20 by (cnt desc, token). Occurrence
    // counts re-aggregate the staged termFreqs relation (Σ tf_cnt per
    // token ≡ counting the exploded occurrences — q51's proof), so the
    // corpus is never re-exploded per invocation (round 18).
    "q26_token_topk" -> ((s, d) =>
      termFreqs(s, d)
        .groupBy(col("token")).agg(sum(col("tf_cnt")).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)),

    // Q27 — n-gram Jaccard near-dup: word-3-shingle inverted-index join,
    // exact Jaccard >= 0.5. Oracle replicates the identical int ratio.
    "q27_ngram_jaccard" -> ((s, d) =>
      jaccardPairs(s, d, 0.5)
        .select(col("da"), col("db"), rk(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("da"), col("db"))),

    // Q28 — MinHash + LSH banded dedup, CHECKED: the output rows are
    // the exact-Jaccard>=0.5 pair graph (DuckDB replicates them fully —
    // q27's arithmetic) and two gates verify that the banded-LSH +
    // confirm pipeline recovered it (the confirm step makes lsh ⊆
    // exact, so misses are recall losses, never phantoms):
    //   lsh_ok    — per pair: found, OR the pair sits where the
    //     scheme's own S-curve does not essentially guarantee
    //     recovery. Banded LSH is probabilistic — recall at Jaccard j
    //     is 1-(1-j^r)^b, only 0.88–0.99 AT the 0.5 confirm threshold
    //     (LshTuning's published math) — so demanding every j≈0.5
    //     pair deterministically would fail a CORRECT implementation
    //     on a corpus with borderline pairs. The per-pair demand
    //     applies only where the miss probability (1-j^r)^b <= 1e-6;
    //     planted near-dups (j >= 0.9, miss ~1e-6 even for the
    //     smallest scheme) stay hard-gated.
    //   recall_ok — aggregate: measured recall over ALL exact pairs
    //     >= the scheme's theoretical floor at the confirm threshold
    //     minus slack (recallAt(0.5) - 0.10) — the ADVICE-shaped
    //     statistical gate that catches a broken pipeline (recall
    //     collapses to ~0) without punishing S-curve physics.
    // Past the gate threshold (10k docs) both sides run over the
    // deterministic Lehmer slice (gateSampleMod): the exact graph —
    // quadratic-ish in corpus size — is read off the shared cache
    // filtered to sampled endpoints, and the LSH audit pipeline runs
    // on the sampled shingle sets only. Full-corpus LSH dedup remains
    // the operator's product via minhashPairs (specs + users); the
    // oracle SQL derives the same modulus from COUNT(*), so the row
    // set stays DuckDB-replicable at every scale.
    "q28_minhash_lsh" -> ((s, d) => {
      val n = corpusDocs(s, d)
      val m = gateSampleMod(n, 10000L)
      val scheme = graft.operators.LshTuning.minhashScheme(n)
      val sets0 = shingleSets(s, d)
      val sets = if (m == 1L) sets0
        else sets0.filter(lehmerSampled(col("doc_id"), m))
      val cap = graft.operators.LshTuning.pairCap(n)
      val lsh = minhashPairsFrom(sets, scheme, cap)
        .select(col("da"), col("db")).withColumn("hit", lit(1))
      val exact0 = jaccardPairs(s, d, 0.5)
      val exact = if (m == 1L) exact0
        else exact0.filter(lehmerSampled(col("da"), m) && lehmerSampled(col("db"), m))
      // joined feeds both the row stream and the recall aggregate —
      // memoized pin (round 19): one LSH pass per session, released by
      // invalidateCaches instead of leaking per invocation
      val joined = memo(s, d, "q28joined", scheme, m, cap)(
        exact.join(lsh, Seq("da", "db"), "left"))
      val missProb = pow(lit(1.0) - pow(col("jaccard"), lit(scheme.rows)), lit(scheme.bands))
      val floor = math.max(0.5, scheme.recallAt(0.5) - 0.10)
      val recall = joined.agg(
        (count(lit(1)) === 0 ||
          count(col("hit")).cast("double") / count(lit(1)) >= floor).as("recall_ok"))
      joined
        .select(col("da"), col("db"), rk(col("jaccard"), 6).as("jaccard"),
          (col("hit").isNotNull || missProb > 1e-6).as("lsh_ok"))
        .crossJoin(broadcast(recall))
        .orderBy(col("da"), col("db"))
    }),

    // Q29 — SimHash near-dup, CHECKED. The pair values are
    // engine-hash-defined (xxhash64 token hashes feed the simhash), so
    // no external engine can replicate them; the gate instead verifies
    // the three properties that make the pipeline trustworthy, one of
    // which DuckDB computes independently:
    //   n_docs_hashed — docs entering the hasher (DuckDB recomputes
    //     from the same tokenization);
    //   pairs_valid   — structural contract of the emitted pairs
    //     (da<db, 0<=hamming<=3, emit-once: no duplicate pairs),
    //     checked over the SAME sampled sub-corpus as configs_agree:
    //     a structural bug — wrong ordering, out-of-range hamming,
    //     duplicate emission — is a property of the pair-generation
    //     code, not of which docs feed it, so it is not
    //     sample-escapable; running it full-corpus made the gate the
    //     dominant term of the whole query (18.4 s of a 58 s suite in
    //     the round-6 driver bench) for a boolean the sample answers
    //     identically. The full-corpus pair set remains the operator's
    //     product via simhashPairsAuto;
    //   configs_agree — the pigeonhole RECALL GUARANTEE made testable:
    //     two different legal blockings (corpus-derived auto config vs
    //     a structurally different combination blocking) must produce
    //     IDENTICAL hamming<=3 pair sets, because recall is guaranteed
    //     for any config with blocks - blocksPerKey >= 3 and the
    //     confirm is exact. A blocking bug in either path breaks
    //     equality and fails the row. The agreement runs over a
    //     deterministic ~1k-doc hash sample past 2k docs (full corpus
    //     below), bounding the cross-validation cost at any scale —
    //     near-dup cliques make the pair stage quadratic in clique
    //     size, so running a second full config would roughly double
    //     the query's dominant term for a check a sample serves
    //     equally well (a systematic blocking bug is not
    //     sample-escapable). The alt config is (8,1) against (4,1) —
    //     NOT (8,2): measured at sf0.1, (8,2) costs 162s where (8,1)
    //     costs 10s, because correlated 8-bit half-slices collide into
    //     hot 16-bit combo buckets and every clique pair re-expands
    //     once per shared combo (C(8,2)=28) before the emit-once
    //     filter. The j>1 combination path is exercised by the spec at
    //     fixture scale and by auto itself past 200k docs.
    // Detailed pair output remains available as simhashPairsAuto /
    // simhashPairs (specs + users).
    "q29_simhash" -> ((s, d) => {
      import graft.operators.LshTuning
      val n = corpusDocs(s, d)
      val autoBl = LshTuning.simhashBlocking(n)
      val altBl =
        if (autoBl.blocks == 4) LshTuning.SimHashBlocking(8, 1)
        else LshTuning.SimHashBlocking(4, 1)
      val m = if (n <= 2000L) 1L else math.max(1L, n / 1000L)
      val simS = simhashes(s, d)
        .filter(pmod(xxhash64(col("doc_id")), lit(m)) === 0)
      // Pair cap stays the corpus one: a round-18 A/B swept the gate
      // pipelines at cap 1024/256/128 and SMALLER caps were strictly
      // slower (1.03→1.39 s sa, 1.46→1.99 s alt) — at sample scale the
      // block-split's extra stages cost more than the split buckets
      // save, so the straggler hypothesis was wrong and the sweep is
      // recorded in OPTIMIZATION_r18.md.
      //
      // BOTH configs ride one combined banded pass (simhashPairsMulti:
      // the cfg tag is part of the bucket key, so each config's pair
      // set is exactly the single-config kernel's) — one routing/
      // expansion pipeline instead of two. Memoized pin (round 19 —
      // was a per-invocation persist, never released; the sample
      // filter needs no pin of its own once this builds once).
      val cap = LshTuning.pairCap(n)
      val combined = memo(s, d, "q29combined", autoBl, altBl, m, cap)(
        simhashPairsMulti(simS, Seq(autoBl, altBl), cap))
      val nDocs = simhashes(s, d).agg(count(lit(1)).as("n_docs_hashed"))
      // BOTH gates from ONE pass over the pinned pair set (round 19 —
      // the r18 shape ran a global aggregate over sa plus a full_outer
      // join of sa against alt, three exchanges for two booleans).
      // Per (da, db): n0/n1 = emission counts under config 0/1, ok0 =
      // every cfg-0 row satisfies the per-row validity predicate.
      //   pairs_valid  ⟺ all sa rows valid AND sa duplicate-free
      //                ⟺ over groups with n0 > 0: ok0 AND n0 == 1
      //                  (count == countDistinct ⟺ every key once)
      //   configs_agree ⟺ the full_outer join of sa and alt has no
      //                  one-sided row ⟺ every group has n0 > 0 AND
      //                  n1 > 0 (a group exists only if in sa or alt)
      // Empty sa / empty graph: bool_and over zero rows is NULL →
      // coalesce(…, true), exactly the r18 gates' vacuous-truth value.
      val perPair = combined.groupBy(col("da"), col("db")).agg(
        count(when(col("cfg") === 0, 1)).as("n0"),
        count(when(col("cfg") === 1, 1)).as("n1"),
        bool_and(when(col("cfg") === 0,
          col("da") < col("db") &&
            col("hamming") >= 0 && col("hamming") <= 3)).as("ok0"))
      val gates = perPair.agg(
        coalesce(bool_and(when(col("n0") > 0, col("ok0") && col("n0") === 1)),
          lit(true)).as("pairs_valid"),
        coalesce(bool_and(col("n0") > 0 && col("n1") > 0), lit(true))
          .as("configs_agree"))
      nDocs.crossJoin(broadcast(gates))
    }),

    // Q30 — embedding-cosine near-dup ranking: top-20 most-similar pairs.
    // Exact all-pairs here (oracle-checkable); the approximate scale path
    // is Q31. Blocked self-pairing (KeyedPairs.allPairsGrouped): vectors
    // hash into ⌈n/cap⌉ blocks, every block PAIR is its own bounded
    // task, nothing broadcast (the round-1 shape broadcast the entire
    // corpus — a hard driver-memory fail beyond toy scale). Scoring +
    // top-20 are FUSED into one expression per task (TopDotPairs:
    // tight primitive loops + a bounded heap, bit-identical arithmetic
    // to the unfused dot/orderBy form) — the post-pair shuffle carries
    // 20 rows per task, never cap² pair structs with embedding copies.
    "q30_embed_neardup" -> ((s, d) => {
      import graft.operators.DupCollapse
      // exact-duplicate collapse first (q60's memoized vecCollapse):
      // cos is a pure function of the two vectors, so the blocked
      // all-pairs kernel runs over one representative per DISTINCT
      // vector — the block grid shrinks by the SQUARE of the
      // duplication factor. Candidates = every member pair of each
      // task's top-20 rep pairs + all within-group pairs (cos = the
      // kernel's own dot/(nrm*nrm) division over the same bits; zero-
      // norm groups pair with nothing, exactly the kernel's contract).
      //
      // Tie exactness (holds even for bit-equal cos from e.g.
      // power-of-two-scaled duplicate vectors): gid is the MIN member
      // id, so a rep pair's id pair (least(ga,gb), greatest(ga,gb)) IS
      // the lexicographically-minimal member pair of its expansion,
      // and every member pair of that rep is >= it in (va, vb). The
      // kernel's per-task keep order — (cos desc, va asc, vb asc)
      // over rep ids — therefore coincides with the global output
      // order restricted to minimal member pairs. A member pair p of a
      // DROPPED rep pair R is preceded globally by the 20 kept
      // task-mates' minimal member pairs (each either strictly beats R
      // on cos, or ties and is lex-smaller than R's minimal pair <= p)
      // — all of which are in the candidate set — so p can never be in
      // the true top-20. The per-task k equaling the global limit is
      // what makes this airtight; DupCollapseSpec pins it on an
      // all-ties corpus.
      val e = embCorpus(s, d)
      val c = memo(s, d, "vecCollapse")(
        DupCollapse.collapseExact(e, "vec_id", "embedding"))
      val reps = c.groups
        .select(col("gid").as("vec_id"), col("key").as("embedding"))
        .withColumn("nrm", l2(col("embedding")))
      val payload = struct(col("vec_id").as("id"), col("embedding"), col("nrm"))
      val repPairs = graft.operators.KeyedPairs.allPairsGrouped(reps, payload,
          cap = 256, memo(s, d, "vecCollapseGroups")(c.groups.count()))
        .select(explode(org.apache.spark.sql.graftfns.PairFunctions
          .topDotPairs(col("as_"), col("bs"), col("bi") === col("bj"), 20)).as("pr"))
        .select(col("pr.va").as("ga"), col("pr.vb").as("gb"), col("pr.cos").as("cos"))
      val cross = DupCollapse.expandPairs(repPairs, c.members)
        .select(col("da").as("va"), col("db").as("vb"), col("cos"))
      val within = DupCollapse.withinPairs(c.members, 256)
        // Java `nrm > 0` is false for NaN; Spark SQL orders NaN above
        // every double, so the isnan guard keeps the two sides equal
        .join(c.groups.filter(l2(col("key")) > 0 && !isnan(l2(col("key"))))
          .select(col("gid"), (dotd(col("key"), col("key")) /
            (l2(col("key")) * l2(col("key")))).as("cos")), "gid")
        .select(col("da").as("va"), col("db").as("vb"), col("cos"))
      within.unionByName(cross)
        .orderBy(col("cos").desc, col("va"), col("vb")).limit(20)
        .select(col("va"), col("vb"), rk(col("cos"), 6).as("cosine"))
    }),

    // Q31 — ANN via multi-table random-hyperplane LSH, CHECKED: rows
    // are the exact top-5 (DuckDB replicates them — q25's arithmetic)
    // and recall_ok gates that the LSH pipeline recovered >= 4 of 5.
    // Scheme (L=12 tables × 10 bits, multiprobe radius 2, seed 42) is
    // sized for THIS corpus's flat cosine spectrum (true neighbors at
    // cos ~0.30–0.37 → P(bit agree) ≈ 0.61; per-table P(hamming<=2) ≈
    // 0.18, union over 12 tables ≈ 0.91) — on a real near-dup corpus
    // (cos >= 0.8 → p >= 0.8) the same scheme probes <5% of buckets.
    // See annLshTopK for the plan shape.
    "q31_ann_lsh" -> ((s, d) =>
      annChecked(exactCosTopK(s, d, 5),
        annLshTopK(s, d, tables = 12, bits = 10, radius = 2, seed = 42, k = 5),
        minHits = 4)),

    // Q42 — ANN via IVF coarse quantization, CHECKED (same gate shape
    // as q31: exact top-5 reference rows + measured-recall boolean).
    // k-means-trained centroids (IvfIndex.train: deterministic
    // lowest-hash init, 2 Lloyd iterations, model served from the
    // round-5 disk store); assignment is a single map-only projection
    // (one fused nearest-centroid call per row — no join, no window, no
    // shuffle); the query
    // probes the nProbe nearest cells driver-side and exact-reranks
    // only those. nProbe=6 of 16 cells reranks ~3/8 of the corpus and
    // recovers >= 3 of the true top-5 (gated); at 100 TB cells are the
    // parquet partition key (IvfIndex.build/probe — partition-pruned
    // probes). Detailed ANN output: annIvfTopK.
    "q42_ann_ivf" -> ((s, d) =>
      annChecked(exactCosTopK(s, d, 5), annIvfTopK(s, d, nProbe = 6, k = 5),
        minHits = 3)),

    // Q53 — ANN via product quantization, CHECKED (exact top-5
    // reference rows + measured-recall boolean, >= 3 of 5). m=8
    // sub-spaces × 16 codewords: each vector compresses to 8 small
    // ints (32× smaller than float32); ADC scoring is 8 literal-table
    // lookups per row (map-only, the float vectors untouched), then
    // only the top-64 shortlist is exact-reranked. The memory-side
    // scale path: PQ codes of a 100 TB embedding corpus fit in cluster
    // RAM. Codebooks served from the round-5 disk store. Detailed ANN
    // output: annPqTopK.
    "q53_ann_pq" -> ((s, d) =>
      annChecked(exactCosTopK(s, d, 5), annPqTopK(s, d, k = 5), minHits = 3)),

    // Q32 — language-ID by marker-lexicon scoring (n-gram heuristic
    // machinery; the testdata's lang label is synthetic so the oracle
    // checks the scoring pipeline, not label recovery). Deterministic
    // argmax with alphabetical tie-break.
    "q32_langid" -> ((s, d) => {
      val lex: Seq[(String, Seq[String])] = Seq(
        "de" -> Seq("table", "window", "merge"),
        "en" -> Seq("the", "a", "value"),
        "es" -> Seq("fast", "group", "row"),
        "fr" -> Seq("line", "query", "stream"),
        "zh" -> Seq("scan", "key", "join"))
      val scored = docToks(s, d)
        .select(col("doc_id"), explode_outer(col("toks")).as("t"))
        .filter(col("t").isNotNull)
        .groupBy(col("doc_id"))
        .agg(
          sum(when(col("t").isin(lex.head._2: _*), 1).otherwise(0)).as(s"s_${lex.head._1}"),
          lex.tail.map { case (lang, words) =>
            sum(when(col("t").isin(words: _*), 1).otherwise(0)).as(s"s_$lang")
          }: _*)
      // argmax via a sorted struct array: (-score, lang) min = best.
      val best = array_min(array(lex.map { case (lang, _) =>
        struct((-col(s"s_$lang")).as("neg"), lit(lang).as("lang"))
      }: _*))
      scored.select(col("doc_id"), best.getField("lang").as("pred_lang"))
        .orderBy(col("doc_id"))
    }),

    // Q33 — quality scoring: char length, token count, mean token
    // length, stopword ratio — length/stopword heuristics per doc.
    "q33_quality" -> ((s, d) =>
      spread(documents(s, d), col("doc_id"))
        .select(col("doc_id"), tokens(col("text")).as("toks"),
          length(col("text")).cast("long").as("n_chars"))
        .select(
          col("doc_id"), col("n_chars"),
          size(col("toks")).cast("long").as("n_tokens"),
          rk(aggregate(col("toks"), lit(0L), (acc, t) => acc + length(t)).cast("double") /
             size(col("toks")), 4).as("avg_tok_len"),
          rk(size(filter(col("toks"), t => t.isin("the", "a"))).cast("double") /
             size(col("toks")), 4).as("stopword_ratio"))
        .orderBy(col("doc_id"))),

    // Q34 — BPE-ish regex token counting: [a-z0-9]+ runs of the
    // lower-cased text; per-doc total and distinct counts.
    "q34_token_count_regex" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          regexp_extract_all(lower(col("text")), lit("[a-z0-9]+"), lit(0)).as("toks"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct"))
        .orderBy(col("doc_id"))),

    // Q35 — document fingerprint: polynomial rolling hash over the raw
    // characters (acc*31 + codepoint mod 1e9+7) — cross-engine exact
    // (sequential fold on longs, no engine hash involved).
    "q35_fingerprint" -> ((s, d) =>
      documents(s, d)
        .select(col("doc_id"),
          aggregate(
            transform(split(col("text"), ""), c => ascii(c).cast("long")),
            lit(0L), (acc, c) => pmod(acc * 31 + c, lit(1000000007L))).as("fingerprint"))
        .orderBy(col("doc_id"))),

    // Q43 — deterministic hash sampling (~10%): Lehmer-hash the id and
    // keep residue 0. Unlike rand()-based TABLESAMPLE this is
    // re-runnable, engine-portable, and JOINABLE (the same doc set
    // samples on every table keyed by doc_id) — the curation primitive
    // for fixed dev slices of a 100 TB corpus. Map-only filter on the
    // scan: no shuffle, no state, trivially parallel.
    "q43_hash_sample" -> ((s, d) =>
      documents(s, d)
        .filter(pmod(col("doc_id") * 48271L, lit(2147483647L)) % 10 === 0)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))),

    // Q46 — cluster-level dedup: connected components over the exact
    // Jaccard>=0.5 pair graph (transitive closure — A~B, B~C clusters
    // A,B,C together even though the pair stage never compared A to
    // C), keep_id = min doc of each cluster. The step that turns pair
    // EMITTERS into an actual dedup decision. Oracle: DuckDB recursive
    // CTE over the identical pair graph.
    //
    // SCALE SHAPE: components run on the COLLAPSED graph (one node per
    // distinct shingle set) and expand to members afterwards — the
    // clique-expanded edge list is Σ clique² rows carrying zero extra
    // connectivity (the ×100 amplified probe measured the expanded
    // form at 60× the ×10 cost; this form scales with DISTINCT sets).
    // Equivalence: gid = min member id (DupCollapse), so the expanded
    // graph's min-doc component label equals the collapsed graph's
    // min-gid label; a group outside the rep graph still clusters on
    // its own when it has ≥2 members and a non-empty set (its within-
    // clique pairs), keep_id = its gid.
    "q46_dedup_clusters" -> ((s, d) => {
      val c = shingleCollapsed(s, d)
      val rep = jaccardRepPairs(s, d, 0.5).select(col("ga"), col("gb"))
      val repComp = graft.operators.ConnectedComponents
        .componentsAuto(rep, "ga", "gb")
        .select(col("id").as("gid"), col("comp"))
      c.members
        .select(col("gid"), col("id").as("doc_id"), col("m"), col("n"))
        .join(repComp, Seq("gid"), "left")
        .filter(col("comp").isNotNull || (col("m") >= 2 && col("n") >= 1))
        .select(col("doc_id"), coalesce(col("comp"), col("gid")).as("keep_id"))
        .orderBy(col("doc_id"))
    }),

    // Q45 — corpus composition report: per (source, lang) document
    // counts, char volume, and averages — the "what is this corpus made
    // of" question every curation pass starts with. One map-side-
    // combined aggregation; scale-trivial.
    "q45_corpus_stats" -> ((s, d) =>
      documents(s, d).groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"),
          rk(sum(col("n_chars")).cast("double") / count(lit(1)), 4).as("avg_chars"),
          min(col("doc_id")).as("first_doc"))
        .orderBy(col("source"), col("lang"))),

    // Q47 — benchmark contamination: fraction of each document's
    // 3-shingles that appear in a "benchmark" slice (stand-in: every
    // 97th doc — in production the eval-suite shingle set). The
    // benchmark shingle set is genuinely small (eval suites are MBs,
    // not TBs), so it BROADCASTS: the corpus-side scan joins map-side
    // against it and aggregates per doc — one shuffle of matched rows
    // only, no corpus self-join. The decontamination primitive every
    // training pipeline needs before a model ships.
    "q47_contamination" -> ((s, d) => {
      val sets = shingleSets(s, d)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      val benchSh = broadcast(
        sets.filter(isBench).select(explode(col("sh")).as("s")).distinct())
      sets.filter(!isBench)
        .select(col("doc_id"), size(col("sh")).as("n"), explode_outer(col("sh")).as("s"))
        .filter(col("s").isNotNull)
        .join(benchSh, Seq("s"))
        .groupBy(col("doc_id"), col("n"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap").cast("double") / col("n") >= 0.10)
        .select(col("doc_id"), col("n").cast("long").as("n_shingles"),
          col("overlap"),
          rk(col("overlap").cast("double") / col("n"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    }),

    // Q48 — within-doc repetition scoring (Gopher-style quality rule):
    // duplicate-token fraction and duplicate-3-gram fraction per doc,
    // keep = under both thresholds. Pure map-side array arithmetic on
    // the scan — no shuffle at any scale (the agg is per-row, not
    // per-key).
    "q48_repetition" -> ((s, d) => {
      val grams = when(size(col("toks")) >= 3,
        transform(sequence(lit(0), size(col("toks")) - 3),
          i => concat_ws(" ", element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2), element_at(col("toks"), i + 3))))
        .otherwise(array().cast("array<string>"))
      docToks(s, d)
        .filter(size(col("toks")) > 0)
        .withColumn("g", grams)
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          rk(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
             size(col("toks")), 6).as("dup_token_frac"),
          when(size(col("g")) > 0,
            rk(lit(1.0) - size(array_distinct(col("g"))).cast("double") /
               size(col("g")), 6)).otherwise(lit(0.0)).as("dup_3gram_frac"))
        .withColumn("keep",
          col("dup_token_frac") <= 0.6 && col("dup_3gram_frac") <= 0.2)
        .orderBy(col("doc_id"))
    }),

    // Q49 — per-source token-budget sampling: deterministic Lehmer-hash
    // order within each source, cumulative token sum, keep docs while
    // the running total fits the budget — the "mix N tokens from each
    // source" curation step. One window shuffle (partitioned by
    // source); per-source hash order makes the sample re-runnable and
    // independent of storage layout. Source skew = partition skew here;
    // at 100 TB sub-split hot sources by hash range and re-aggregate.
    // Token counts come off the persisted docToks derivation — NOT a
    // fresh tokens() pass: re-running the interpreted regex split
    // corpus-wide cost 10× the cached read in the round-6 driver
    // bench, and every other token consumer (q26/q48/q51/q64...)
    // already reads the cache. The join ships only (doc_id, n_tokens)
    // against the 2-column (doc_id, source) scan.
    "q49_token_budget" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 1000L
      val counts = docToks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"))
      val base = documents(s, d).select(col("doc_id"), col("source"))
        .join(counts, Seq("doc_id"))
        .withColumn("hk", pmod(col("doc_id") * 48271L, lit(2147483647L)))
      val w = Window.partitionBy(col("source")).orderBy(col("hk"), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      base.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
    }),

    // Q50 — int8-quantized cosine top-k: per-vector symmetric scalar
    // quantization (scale = max|x|/127, round-half-up), then the same
    // top-5 as q25 over the quantized values. The embedding-compression
    // path for 100 TB: int8 storage is 4× smaller than float32 and the
    // quantized dot stays exact in double (|q|<=127 products sum far
    // below 2^53), so the oracle replicates it bit-for-bit. Recall vs
    // the exact q25 is asserted in LlmQueriesSpec.
    "q50_quantized_topk" -> ((s, d) => {
      def quant(v: Column): Column = {
        val mx = array_max(transform(v, x => abs(x.cast("double"))))
        when(mx > 0,
          transform(v, x => floor(x.cast("double") * lit(127.0) / mx + 0.5)))
          .otherwise(transform(v, _ => lit(0.0)))
      }
      val q = embCorpus(s, d)
        // int values ±127: the float cast is exact, and dotd's
        // left-to-right double fold then matches DuckDB's list_reduce
        .withColumn("qe", quant(col("embedding")).cast("array<float>"))
      val qv = broadcast(q.filter(col("vec_id") === 0).select(col("qe").as("qq")))
      q.crossJoin(qv).filter(col("vec_id") =!= 0)
        .select(col("vec_id"),
          (dotd(col("qe"), col("qq")) / (l2(col("qe")) * l2(col("qq")))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(5)
        .select(col("vec_id"), rk(col("cos"), 6).as("cosine"))
    }),

    // Q51 — unigram-LM quality scoring (CCNet-style): score each doc by
    // the mean negative log-probability of its tokens under the
    // corpus's own unigram distribution — high = out-of-distribution /
    // junk, low = fluent-for-this-corpus. Determinism trick: the
    // per-token surprisal is quantized to an INTEGER (floor(-ln p * 1e6
    // + 0.5)) before summation, so the per-doc sum is exact long
    // arithmetic — order-independent across partitions and engines (a
    // double sum would differ in the last bits by addition order).
    // Scale shape: two token-keyed shuffles (term counts, then the
    // score agg); the vocabulary join is NOT force-broadcast (same
    // reasoning as q44 — a web-scale vocab outgrows the driver; AQE
    // broadcasts when it fits). The 1-row total is broadcast.
    "q51_unigram_lm" -> ((s, d) => {
      // All three statistics re-aggregate the staged termFreqs relation
      // ((doc_id, token, tf_cnt) — the same sufficient statistic q44
      // rides) instead of re-exploding token OCCURRENCES: per-token
      // count = Σ tf_cnt, corpus total = Σ tf_cnt, per-doc n_tokens =
      // Σ tf_cnt and lp_sum = Σ tf_cnt·lp_micro — exact long
      // arithmetic, identical to the occurrence-grain sums by
      // definition of tf_cnt. The vocabulary join and the doc agg now
      // ship one row per DISTINCT (doc, token) instead of one per
      // occurrence (guide §2.3: aggregate before you shuffle) — the
      // round-18 A/B read 1.49 s → ~0.5 s at sf0.1, and at corpus
      // scale the join volume drops by the mean term frequency.
      val tf = termFreqs(s, d)
      val counts = tf.groupBy(col("token")).agg(sum(col("tf_cnt")).as("cnt"))
      val total = broadcast(tf.agg(sum(col("tf_cnt")).as("total")))
      val scored = counts.crossJoin(total)
        .select(col("token"),
          floor(-log(col("cnt").cast("double") / col("total")) * 1e6 + 0.5)
            .cast("long").as("lp_micro"))
      tf.join(scored, "token")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf_cnt")).as("n_tokens"),
          sum(col("tf_cnt") * col("lp_micro")).as("lp_sum"))
        .select(col("doc_id"), col("n_tokens"),
          rk(col("lp_sum").cast("double") / (col("n_tokens") * 1e6), 4)
            .as("mean_surprisal"))
        .orderBy(col("doc_id"))
    }),

    // Q52 — stratified hash sampling: per-stratum (lang) rates — keep
    // 50% of 'en', 10% of everything else — via the same Lehmer hash as
    // q43, so the sample is deterministic, re-runnable, and joinable
    // across tables. Map-only filter on the scan: the stratification is
    // a CASE on the rate, not a per-group shuffle (the usual
    // sampleBy/rand() approach is neither repeatable nor joinable).
    "q52_stratified_sample" -> ((s, d) => {
      val res = pmod(col("doc_id") * 48271L, lit(2147483647L)) % 100
      documents(s, d)
        .filter(when(col("lang") === "en", res < 50).otherwise(res < 10))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Q54 — the end-to-end curation pipeline, composed as ONE query:
    // (1) quality gate (length window + duplicate-token fraction, q48's
    // arithmetic), (2) exact dedup keeping the lowest doc_id (q24),
    // (3) per-source token budget over the survivors (q49). This is the
    // query a training-data pipeline actually ships; each stage was
    // verified alone, this verifies the composition. Scale shape: one
    // map-side gate, one text-keyed dedup shuffle, one source-window
    // shuffle — nothing quadratic, nothing collected.
    "q54_curation_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 1000L
      // the tokenized corpus comes from the persisted docToks
      // derivation (identical toks by construction) joined back to the
      // documents scan for (source, text) — the previous inline
      // tokens() re-ran the interpreted regex split per invocation,
      // the single most expensive per-row op this pipeline had
      val base = documents(s, d)
        .select(col("doc_id"), col("source"), col("text"))
        .join(docToks(s, d), Seq("doc_id"))
        .filter(size(col("toks")) > 0)
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .withColumn("dup_tok_frac",
          rk(lit(1.0) - size(array_distinct(col("toks"))).cast("double") /
             size(col("toks")), 6))
      val gated = base
        .filter(col("n_tokens") >= 20 && col("n_tokens") <= 1000 &&
                col("dup_tok_frac") <= 0.6)
      // n_tokens is a function of the text so first() is deterministic-
      // by-value; source is NOT (copies can live in different sources),
      // so the keeper's own source comes from min_by on the unique
      // doc_id — no second documents scan, no join
      val keepers = gated
        .groupBy(col("text"))
        .agg(min(col("doc_id")).as("doc_id"),
          min_by(col("source"), col("doc_id")).as("source"),
          first(col("n_tokens")).as("n_tokens"))
        .drop("text")
      val w = Window.partitionBy(col("source"))
        .orderBy(pmod(col("doc_id") * 48271L, lit(2147483647L)), col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      keepers.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("source"), col("cum_tokens"), col("doc_id"))
    }),

    // Q59 — Bloom-prefiltered contamination: q47's exact semantics with
    // a Bloom filter of the benchmark shingle set screening corpus rows
    // MAP-SIDE before the join. No false negatives, and the exact join
    // that follows removes false positives — the output is IDENTICAL to
    // q47 (same oracle). The scale story: corpus shingles almost never
    // hit the benchmark set, so the filter (built DISTRIBUTED via
    // Spark's own BloomFilterAggregate, a few MB at eval-suite size)
    // keeps ~99% of corpus rows out of the join entirely — the
    // decontamination shape that survives a benchmark set too large for
    // a cheap broadcast hash join.
    "q59_contamination_bloom" -> ((s, d) => {
      import org.apache.spark.sql.graftfns.BloomScreen
      val sets = shingleSets(s, d)
      val isBench = pmod(col("doc_id"), lit(97)) === 0
      // persisted: three consumers (the sizing count, the distributed
      // bloom build, and the confirm join) otherwise each re-run the
      // explode+distinct shuffle — with the pin the benchmark set is
      // derived once and the two later reads are in-memory scans of a
      // benchmark-suite-sized relation (tiny by definition)
      val benchSh = memo(s, d, "benchShingles")(
        sets.filter(isBench).select(explode(col("sh")).as("s")).distinct())
      // sizing hint: one tiny count over the pinned bench slice,
      // memoized so repeated invocations pay no eager count job
      val nBench = math.max(memo(s, d, "benchShinglesCount")(benchSh.count()), 1L)
      val bf = BloomScreen.build(benchSh, col("s"), nBench, fpp = 0.01)
      // no broadcast hint on the confirm join: at eval-suite scale AQE
      // picks broadcast on its own, and when the benchmark set outgrows
      // broadcast range (the scenario the bloom screen exists for) the
      // planner must be free to shuffle-join the screened survivors —
      // a forced broadcast would OOM exactly when the screen matters.
      sets.filter(!isBench)
        .select(col("doc_id"), size(col("sh")).as("n"), explode_outer(col("sh")).as("s"))
        .filter(col("s").isNotNull && BloomScreen.mightContain(bf, col("s")))
        .join(benchSh, Seq("s"))
        .groupBy(col("doc_id"), col("n"))
        .agg(count(lit(1)).as("overlap"))
        .filter(col("overlap").cast("double") / col("n") >= 0.10)
        .select(col("doc_id"), col("n").cast("long").as("n_shingles"),
          col("overlap"),
          rk(col("overlap").cast("double") / col("n"), 6).as("contamination"))
        .orderBy(col("doc_id"))
    }),

    // Q60 — semantic dedup, SemDeDup-style, CHECKED. Cluster embeddings
    // with the cached IVF k-means, pair vectors only WITHIN a cluster
    // (nAssign=2 runner-up cells recover boundary pairs; KeyedPairs
    // bounds hot cells), confirm with the exact cosine. The cluster
    // labels are trained-model artifacts no external engine can
    // replicate, so the gate verifies the pipeline against the EXACT
    // cosine>=0.40 pair graph, which DuckDB recomputes independently:
    //   n_vecs / n_exact_pairs — corpus size and exact-graph size
    //     (DuckDB all-pairs count, same left-to-right double fold);
    //   pairs_subset_ok — every emitted pair is an exact pair
    //     (precision 1.0: the cosine confirm makes this provable, and
    //     the anti-join proves the implementation did it);
    //   recall_ok — the cell-blocked pass recovered >= 60% of the
    //     exact graph (nAssign=3 since round 18: nAssign=2 measured
    //     0.598 at the sf0.1 corpus — one pair under the floor —
    //     vs 0.839 at 3; SemDeDup's contract is within-cluster
    //     pruning, so 100% is NOT expected — the knob math is in
    //     semanticDedupPairs).
    // Cluster refinement follows from pairs_subset_ok: components of a
    // subgraph always refine components of the graph. The dedup
    // decision itself stays available as semanticDedup (specs + users).
    // Past the gate threshold (4k vectors) the exact reference — an
    // O(n²·dim) blocked all-pairs pass — runs over the deterministic
    // Lehmer slice only (gateSampleMod; the oracle SQL derives the
    // same modulus from COUNT(*)), and the sem side is filtered to
    // sampled endpoints for the subset/recall comparison; the dedup
    // pair graph itself is still computed full-corpus — it is the
    // product, and its cell-blocked cost is near-linear.
    "q60_semantic_dedup" -> ((s, d) => {
      val thresh = 0.40
      val m = gateSampleMod(corpusVecs(s, d), 4000L)
      val sem0 = semanticDedupPairs(s, d, nAssign = 3, thresh)
        .select(least(col("va"), col("vb")).as("va"),
          greatest(col("va"), col("vb")).as("vb"))
      val sem = if (m == 1L) sem0
        else sem0.filter(lehmerSampled(col("va"), m) && lehmerSampled(col("vb"), m))
      val exact = exactCosPairs(s, d, thresh, m).select(col("va"), col("vb"))
      // counted off the persisted probe corpus (same rows as the raw
      // scan by construction) instead of a fresh parquet pass
      val nVecs = embCorpus(s, d).agg(count(lit(1)).as("n_vecs"))
      // ONE union + one keyed aggregate yields all three gates (round
      // 19 — the r18 shape full_outer-joined sem against exact, which
      // shuffles BOTH sides and sort-merges; the union shuffles once
      // into a hash aggregate). Exact because both sides are
      // duplicate-free pair SETS, so per (va, vb) the join produced
      // exactly one row with membership flags — identical to
      // groupBy + max(flag): sem = within ∪ cross over the collapse
      // (within: one row per member pair of a group; cross: expansion
      // of DISTINCT rep pairs, and a member pair determines its rep
      // pair — disjoint from within since its endpoints span groups);
      // exact = KeyedPairs.allPairs, each unordered pair exactly once.
      val gates = sem
        .select(col("va"), col("vb"),
          lit(1).as("ins"), lit(null).cast("int").as("ine"))
        .unionByName(exact.select(col("va"), col("vb"),
          lit(null).cast("int").as("ins"), lit(1).as("ine")))
        .groupBy(col("va"), col("vb"))
        .agg(max(col("ins")).as("ins"), max(col("ine")).as("ine"))
        .agg(count(col("ine")).as("ne"),
          (count(when(col("ins").isNotNull && col("ine").isNull, 1)) === 0)
            .as("pairs_subset_ok"),
          count(when(col("ins").isNotNull && col("ine").isNotNull, 1)).as("nf"))
        // empty exact graph -> vacuously ok (nothing to miss); without
        // the guard 0/0 is NULL and the gate row would fail the hash
        // compare on exactly the corpus with nothing to find
        .select(col("ne").as("n_exact_pairs"), col("pairs_subset_ok"),
          (col("ne") === 0 ||
            col("nf").cast("double") / col("ne") >= 0.60).as("recall_ok"))
      nVecs.crossJoin(broadcast(gates))
    }),

    // Q61 — per-language percentile quality gate: keep docs whose
    // n_chars lies within [p05, p95] of their language — the
    // distribution-trimming curation step (drop truncated fragments and
    // boilerplate monsters per stratum). Exact interpolated percentile
    // here for the oracle; at 100 TB swap percentile() for
    // approx_percentile() (same plan shape, sketch-mergeable, no
    // per-group sort buffer). The bounds table is lang-cardinality
    // (tiny) — broadcast back onto the scan, so the corpus pass is
    // map-only.
    "q61_percentile_gate" -> ((s, d) => percentileGate(s, d, exact = true)),

    // Q63 — winnowing fingerprints (Schleimer et al., SIGMOD'03 — the
    // MOSS algorithm): per position, hash the 3-token shingle with the
    // engine-portable polynomial hash (q35's), then keep the MINIMUM
    // hash of each 4-window of consecutive positions — a deterministic
    // ~2/(w+1) sample of positions that still guarantees any shared
    // run of >= w+k-1 tokens leaves a shared fingerprint. Shared-
    // fingerprint doc pairs then form the same inverted-index shape as
    // q27 at a FRACTION of the index size — the published
    // sparsification for substring-level overlap detection at corpus
    // scale. Map-only derivation (the per-position hashing + window
    // minima live in the native codegen'd WinnowFingerprints
    // expression — bit-equal to the interpreted gram/split/ascii/
    // slice chain per TextExprSpec) + one fp-keyed pair stage
    // (KeyedPairs-bounded).
    // Window and pair cap are corpus-derived (LshTuning.winnowWindow /
    // pairCap): at the test/verify corpora they resolve to the w=4 the
    // oracle SQL replicates; larger corpora take a larger window —
    // the index shrinks ~linearly in w while the guarantee degrades
    // gracefully to "matches of >= w+k-1 tokens only" (the spec
    // cross-checks the auto config against an explicit one).
    "q63_winnow_fingerprints" -> ((s, d) =>
      winnowPairs(s, d,
        graft.operators.LshTuning.winnowWindow(corpusDocs(s, d)))),

    // Q64 — BPE-style adjacent-pair counts: the corpus statistics pass
    // of byte-pair/word-piece vocabulary induction — count every
    // ADJACENT token pair occurrence (all occurrences, not per-doc
    // distinct like shingling) and rank. The pair emit is the native
    // WordShingles expression in no-dedup mode (one codegen loop per
    // row); pairs ride the count shuffle as single "t1 t2" strings —
    // injective, since tokens are whitespace-split so can't contain
    // the separator — and are split back only for the 30 result rows.
    // Scale shape: map-side emit off the cached token arrays, ONE
    // count-agg shuffle with partial aggregation (pair vocabulary ≪
    // pair occurrences), top-k via TakeOrderedAndProject. This is the
    // inner loop of iterative BPE training — each merge round is this
    // query over a re-tokenized corpus.
    "q64_bpe_pairs" -> ((s, d) =>
      docToks(s, d)
        .select(explode(org.apache.spark.sql.graftfns.TextFunctions
          .shinglesAll(col("toks"), 2)).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("cnt"))
        .select(split_part(col("p"), lit(" "), lit(1)).as("t1"),
          split_part(col("p"), lit(" "), lit(2)).as("t2"), col("cnt"))
        .orderBy(col("cnt").desc, col("t1"), col("t2")).limit(30)),

    // Q65 — cross-source shingle overlap matrix: for every source pair,
    // how many distinct 3-gram shingles they share and the containment
    // fraction each way — the corpus-provenance leakage report (how
    // much of source A's content also appears in source B). ONE
    // shingle-keyed shuffle does all the heavy work: collect_set
    // dedupes (source, shingle) AND gathers each shingle's source set
    // — bounded by the source cardinality (provenance tags are few by
    // definition, no KeyedPairs cap needed), so even a stop-shingle in
    // every source stays a |sources|-sized buffer. Each set then emits
    // its singles (sb NULL → per-source index sizes) and ordered pairs
    // (→ shared counts) in a single stream, so one tiny counts matrix
    // (≤ |sources|² rows) serves both legs of the final assembly — the
    // two consumers share the counts exchange (ReusedExchange), and
    // the size joins are broadcast.
    "q65_source_overlap" -> ((s, d) => {
      // shingle derivation comes from the shared shingleSets cache (the
      // dedup family's staged corpus) through its memoized duplicate
      // collapse: the per-shingle source set only needs DISTINCT
      // (source, shingle-set-group) combinations, so exact-duplicate
      // docs from the same source explode once, not once per copy —
      // on a clique-heavy corpus the explode (this query's volume
      // term) runs at distinct-doc scale. The doc_id -> source
      // attribute join is member-level metadata, never a re-derive.
      val c = shingleCollapsed(s, d)
      val srcGroups = c.members
        .join(documents(s, d).select(col("doc_id").as("id"), col("source")), "id")
        .select(col("gid"), col("source")).distinct()
      // the shuffle keys on the 8-byte portable polynomial hash of the
      // shingle, not the shingle string (3× the byte volume at corpus
      // scale); DuckDB replicates the same hash (q63's precedent), so
      // the oracle equality is exact — including the ~2^-30-density
      // collisions, identical on both engines
      val ss = srcGroups
        .join(c.groups.select(col("gid"), col("key")), "gid")
        .select(col("source"), explode(org.apache.spark.sql.graftfns
          .TextFunctions.polyHashes(col("key"))).as("sh"))
        .groupBy(col("sh")).agg(sort_array(collect_set(col("source"))).as("ss"))
      // three consumers (ov + both broadcast sizes sides) would
      // re-execute the whole explode→collect_set→pair chain 3×
      // without this pin; the relation is ≤ |sources|² + |sources|
      // rows — tiny at ANY corpus scale (provenance tags are few).
      // Memoized (round 19): one build per session, released by
      // invalidateCaches instead of re-pinned per invocation.
      val counts = memo(s, d, "q65counts")(ss
        .select(explode(flatten(transform(sequence(lit(1), size(col("ss"))), i =>
          transform(sequence(i, size(col("ss"))), j =>
            struct(try_element_at(col("ss"), i).as("sa"),
              when(j > i, try_element_at(col("ss"), j))
                .otherwise(lit(null).cast("string")).as("sb")))))).as("p"))
        .select(col("p.sa").as("sa"), col("p.sb").as("sb"))
        .groupBy(col("sa"), col("sb")).agg(count(lit(1)).as("cnt")))
      val sizes = counts.filter(col("sb").isNull)
        .select(col("sa").as("source"), col("cnt").as("n_sh"))
      val ov = counts.filter(col("sb").isNotNull)
        .select(col("sa").as("src_a"), col("sb").as("src_b"), col("cnt").as("shared"))
      ov.join(broadcast(sizes).as("za"), col("src_a") === col("za.source"))
        .join(broadcast(sizes).as("zb"), col("src_b") === col("zb.source"))
        .select(col("src_a"), col("src_b"), col("shared"),
          rk(col("shared").cast("double") / col("za.n_sh"), 6).as("cont_a"),
          rk(col("shared").cast("double") / col("zb.n_sh"), 6).as("cont_b"))
        .orderBy(col("src_a"), col("src_b"))
    }),

    // Q66 — sequence packing (concat-and-chunk training prep): lay the
    // corpus out in doc_id order as one token stream and cut it into
    // fixed 2048-token training sequences — each doc's pack id and
    // offset within its pack. The global running token count is the
    // PrefixSum operator: a two-phase distributed scan (range shuffle,
    // per-partition totals, map-side offsets), never the
    // single-partition `SUM() OVER (ORDER BY)` window that a naive
    // translation would plan — the difference between a 100 TB pack
    // job finishing and one task owning the corpus.
    "q66_sequence_packing" -> ((s, d) => {
      val seqLen = 2048L
      val toks = docToks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      graft.operators.PrefixSum
        .exclusive(toks, Seq(col("doc_id")), col("n_tok"), "tok_start")
        // integer DIV, not floor(double /): tok_start past 2^53 would
        // lose low bits in the double and disagree with the exact pmod
        .select(col("doc_id"), col("n_tok"),
          expr(s"tok_start div $seqLen").as("pack_id"),
          pmod(col("tok_start"), lit(seqLen)).as("pack_offset"))
        .orderBy(col("doc_id"))
    }),

    // Q67 — mixture re-weighting: per-source token share and the
    // repeat factor that equalizes the training mixture (weight =
    // uniform target share / actual share — the DoReMi/Pile-style
    // static mixture table). One count-agg shuffle to source
    // cardinality; the totals row is a broadcast crossJoin back onto
    // the tiny per-source table (the two consumers share the agg
    // exchange).
    "q67_mixture_weights" -> ((s, d) => {
      // token counts come off the persisted docToks derivation (q49's
      // shape) instead of a fresh interpreted tokens() pass over the
      // corpus — the join ships only (doc_id, n_tok) against the
      // 2-column (doc_id, source) scan (round 18; the re-tokenize was
      // this query's entire per-row cost)
      val counts = docToks(s, d)
        .select(col("doc_id"), size(col("toks")).cast("long").as("n_tok"))
      val perSrc = documents(s, d).select(col("doc_id"), col("source"))
        .join(counts, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_tok")).as("toks"), count(lit(1)).as("docs"))
      val tot = perSrc
        .agg(sum(col("toks")).as("tot_toks"), count(lit(1)).as("n_src"))
      perSrc.crossJoin(broadcast(tot))
        .select(col("source"), col("toks"), col("docs"),
          rk(col("toks").cast("double") / col("tot_toks"), 6).as("share"),
          rk(col("tot_toks").cast("double") / (col("n_src") * col("toks")), 6).as("weight"))
        .orderBy(col("source"))
    }),

    // Q68 — FILTERED vector search: exact cosine top-5 restricted by a
    // metadata predicate (lang = 'en') — the filtered-ANN feature of
    // every production vector store. The predicate runs as a semi-join
    // BEFORE any scoring, so non-matching vectors never enter the
    // similarity pipeline; at index scale the same shape intersects
    // IVF cell lists with the filter instead (the candidate set is
    // pruned on both axes, never scored-then-filtered).
    "q68_filtered_topk" -> ((s, d) => {
      val e = embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      val keep = documents(s, d).filter(col("lang") === "en").select(col("doc_id"))
      // the persisted probe corpus (embCorpus) replaces a fresh
      // per-invocation spread — the ANN probes' round-17 fix, applied
      // to the filtered-search leg too
      embCorpus(s, d)
        .join(keep, col("vec_id") === col("doc_id"), "left_semi")
        .filter(col("vec_id") =!= 0)
        .crossJoin(q)
        .select(col("vec_id"),
          (dotd(col("embedding"), col("qv")) / (l2(col("embedding")) * l2(col("qv")))).as("cos"))
        .orderBy(col("cos").desc, col("vec_id")).limit(5)
        .select(col("vec_id"), rk(col("cos"), 6).as("cosine"))
    }),

    // Q69 — hybrid retrieval with reciprocal-rank fusion: the lexical
    // leg (q44's tf-idf for one query term) and the vector leg (q25's
    // cosine against one query vector) each produce a top-100 candidate
    // list; RRF fuses them as Σ 1/(60+rank). Ranking happens AFTER the
    // per-leg TakeOrdered top-k, so the only window runs over ≤ 100
    // rows — the corpus is never globally ranked (fuse the lists, not
    // the collection; standard practice and the scale-safe shape).
    "q69_hybrid_rrf" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val kCand = 100
      val term = "spark"
      val (tf, dl, dfreq, nDocs) = tfidfStats(s, d)
      val lex = tf.filter(col("token") === term)
        .join(dl, "doc_id").join(dfreq, "token").crossJoin(nDocs)
        .select(col("doc_id"), tfidfScore.as("lscore"))
        .orderBy(col("lscore").desc, col("doc_id")).limit(kCand)
        .withColumn("rank_lex",
          row_number().over(Window.orderBy(col("lscore").desc, col("doc_id"))))
      val e = embeddings(s, d)
      val q = broadcast(e.filter(col("vec_id") === 0).select(col("embedding").as("qv")))
      // persisted probe corpus instead of a fresh per-invocation spread
      val vec = embCorpus(s, d).crossJoin(q)
        .filter(col("vec_id") =!= 0)
        .select(col("vec_id").as("doc_id"),
          (dotd(col("embedding"), col("qv")) / (l2(col("embedding")) * l2(col("qv")))).as("vscore"))
        .orderBy(col("vscore").desc, col("doc_id")).limit(kCand)
        .withColumn("rank_vec",
          row_number().over(Window.orderBy(col("vscore").desc, col("doc_id"))))
      lex.select(col("doc_id"), col("rank_lex"))
        .join(vec.select(col("doc_id"), col("rank_vec")), Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          (coalesce(lit(1.0) / (lit(60) + col("rank_lex")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_vec")), lit(0.0))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id")).limit(10)
        .select(col("doc_id"), rk(col("rrf"), 6).as("rrf"))
    }),

    // Q70 — PII scrubbing: regex redaction of emails, phone-shaped
    // numbers and long digit runs — the standard pre-training privacy
    // pass. The testdata text is word-only, so deterministic PII is
    // injected from doc_id identically on both engines (the redaction
    // is then actually exercised, not a no-op hash). Patterns use
    // character classes only (no backslash escapes), the syntax subset
    // where Java regex (Spark) and RE2 (DuckDB) agree symbol for
    // symbol. Map-only scan; the only shuffle is the output sort.
    "q70_pii_scrub" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
      val phone = "[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}"
      val idnum = "[0-9]{6,}"
      val withPii = documents(s, d).select(col("doc_id"), concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@mail.com or 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
          lit("-1234 ref "), (col("doc_id") + 100000).cast("string")).as("text"))
      withPii.select(col("doc_id"),
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            email, "<EMAIL>"), phone, "<PHONE>"), idnum, "<ID>").as("scrubbed"),
          (size(regexp_extract_all(col("text"), lit(email), lit(0))) +
           size(regexp_extract_all(col("text"), lit(phone), lit(0))) +
           size(regexp_extract_all(col("text"), lit(idnum), lit(0))))
            .cast("long").as("n_pii"))
        .orderBy(col("doc_id"))
    }),

    // Q71 — overlapping document chunking: each doc's token stream cut
    // into windows of 32 tokens at stride 24 (8-token overlap) — the
    // long-context training-window prep that precedes q66's packing.
    // The per-doc chunk index set is sequence()+explode (generate-side,
    // no join, no window); slice() clips the tail window. Map-only
    // derivation over the shared tokenized corpus.
    "q71_doc_chunking" -> ((s, d) => {
      val w = 32; val st = 24
      docToks(s, d)
        .select(col("doc_id"), col("toks"), size(col("toks")).as("n"))
        .filter(col("n") > 0)
        .select(col("doc_id"), col("toks"),
          explode(sequence(lit(0L),
            greatest(expr(s"(n - $w + ${st - 1}) div $st"), lit(0)).cast("long"))).as("chunk_idx"))
        .select(col("doc_id"), col("chunk_idx"),
          (col("chunk_idx") * st).as("start_tok"),
          slice(col("toks"), (col("chunk_idx") * st + 1).cast("int"), lit(w)).as("chunk"))
        .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
          size(col("chunk")).cast("long").as("n_tok"),
          array_join(col("chunk"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),

    // Q72 — split-leakage audit: assign train/val by the q43 Lehmer
    // hash (map-only, re-runnable), then surface the near-dup pairs
    // from q27's exact >=0.5 Jaccard graph that STRADDLE the split —
    // the leakage check a train/eval cut ships with (a val doc whose
    // near-duplicate sits in train is a leaked eval item). Composes
    // the cached pair graph: the audit costs one filter over pairs,
    // not a new similarity pass.
    "q72_split_leakage" -> ((s, d) => {
      def split(c: Column) =
        when(pmod(c * 48271L, lit(2147483647L)) % 100 < 90, "train")
          .otherwise("val")
      jaccardPairs(s, d, 0.5)
        .select(col("da"), col("db"), rk(col("jaccard"), 6).as("jaccard"),
          split(col("da")).as("split_a"), split(col("db")).as("split_b"))
        .filter(col("split_a") =!= col("split_b"))
        .orderBy(col("da"), col("db"))
    }),

    // Q73 — incremental cross-corpus dedup, CHECKED: the incoming
    // batch (odd doc_ids, modeling a new crawl snapshot) probed
    // against the accumulated base corpus (even doc_ids) through
    // IncrementalDedup's banded MinHash bucket index — a per-batch
    // equi-join against a persisted, growing index, never a self-pair
    // stage over base ∪ new. Output rows are the exact cross-corpus
    // Jaccard>=0.5 pairs (DuckDB replicates them — q27's arithmetic
    // restricted to parity-crossing pairs, straight off the staged
    // pair graph); the gates mirror q28's: per-pair lsh_ok demanded
    // only where the scheme's S-curve essentially guarantees
    // recovery, plus the aggregate recall floor. Past the gate corpus
    // threshold both sides run on the deterministic Lehmer sample,
    // q28's audit-cost contract.
    "q73_incremental_dedup" -> ((s, d) => {
      import graft.operators.{IncrementalDedup, LshTuning}
      val n = corpusDocs(s, d)
      val m = gateSampleMod(n, 10000L)
      val scheme = LshTuning.minhashScheme(n)
      val sets0 = shingleSets(s, d)
      val sets = if (m == 1L) sets0 else sets0.filter(lehmerSampled(col("doc_id"), m))
      val newSets = sets.filter(pmod(col("doc_id"), lit(2L)) === 1L)
      val baseSets = sets.filter(pmod(col("doc_id"), lit(2L)) === 0L)
      val lsh = IncrementalDedup.newVsBase(newSets, baseSets, "doc_id", "sh", scheme, 0.5)
        .select(least(col("new_id"), col("base_id")).as("da"),
          greatest(col("new_id"), col("base_id")).as("db"))
        .withColumn("hit", lit(1))
      val exact0 = jaccardPairs(s, d, 0.5)
        .filter(pmod(col("da"), lit(2L)) =!= pmod(col("db"), lit(2L)))
      val exact = if (m == 1L) exact0
        else exact0.filter(lehmerSampled(col("da"), m) && lehmerSampled(col("db"), m))
      // memoized pin (round 19 — was a per-invocation persist, never
      // released): the recall gate and the row output both read it
      val joined = memo(s, d, "q73joined", scheme, m)(
        exact.join(lsh, Seq("da", "db"), "left"))
      val missProb = pow(lit(1.0) - pow(col("jaccard"), lit(scheme.rows)), lit(scheme.bands))
      val floor = math.max(0.5, scheme.recallAt(0.5) - 0.10)
      val recall = joined.agg(
        (count(lit(1)) === 0 ||
          count(col("hit")).cast("double") / count(lit(1)) >= floor).as("recall_ok"))
      joined
        .select(col("da"), col("db"), rk(col("jaccard"), 6).as("jaccard"),
          (col("hit").isNotNull || missProb > 1e-6).as("lsh_ok"))
        .crossJoin(broadcast(recall))
        .orderBy(col("da"), col("db"))
    }),

    // Q75 — semantic incremental dedup, CHECKED: q73's shape over
    // embeddings — the incoming batch (odd vec_ids) assigns to its 3
    // nearest IVF cells (2 until round 18 — see the q60 recall note)
    // and equi-joins the accumulated base corpus's
    // (even ids) cell index, cos confirmed exactly on candidates
    // (IncrementalDedup.newVsBaseCos: bit-equal arithmetic to the
    // exact all-pairs reference, so confirmed ⊆ exact). Centroids are
    // the corpus-lifecycle ivf_k16_i2 model from the store — retrain
    // cadence is policy, never a per-batch cost. Gates mirror q60's:
    // subset (phantoms impossible), recall >= 0.60 vs the exact cross
    // graph (Lehmer-sampled past 4k vecs).
    "q75_semantic_incremental" -> ((s, d) => {
      import graft.operators.{IncrementalDedup, IvfIndex}
      val thresh = 0.40
      val m = gateSampleMod(corpusVecs(s, d), 4000L)
      val e0 = embCorpus(s, d)
      val e = if (m == 1L) e0 else e0.filter(lehmerSampled(col("vec_id"), m))
      val cents = ivfModel(s, d, 16)
      val nw = e.filter(pmod(col("vec_id"), lit(2L)) === 1L)
      val base = e.filter(pmod(col("vec_id"), lit(2L)) === 0L)
      val idx = IncrementalDedup.cosIndex(base, "vec_id", "embedding", cents, 3)
      val sem = IncrementalDedup
        .newVsBaseCos(nw, idx, "vec_id", "embedding", cents, 3, thresh)
        .select(least(col("new_id"), col("base_id")).as("va"),
          greatest(col("new_id"), col("base_id")).as("vb"))
      val exact = exactCosPairs(s, d, thresh, m)
        .filter(pmod(col("va"), lit(2L)) =!= pmod(col("vb"), lit(2L)))
        .select(col("va"), col("vb"))
      val nNew = embCorpus(s, d).filter(pmod(col("vec_id"), lit(2L)) === 1L)
        .agg(count(lit(1)).as("n_new"))
      // union + keyed aggregate instead of a full_outer join — q60's
      // rewrite, same duplicate-freedom argument: sem is
      // newVsBaseCos(...).distinct() normalized, exact is the
      // exactCosPairs set (each unordered pair once).
      val gates = sem
        .select(col("va"), col("vb"),
          lit(1).as("ins"), lit(null).cast("int").as("ine"))
        .unionByName(exact.select(col("va"), col("vb"),
          lit(null).cast("int").as("ins"), lit(1).as("ine")))
        .groupBy(col("va"), col("vb"))
        .agg(max(col("ins")).as("ins"), max(col("ine")).as("ine"))
        .agg(count(col("ine")).as("ne"),
          (count(when(col("ins").isNotNull && col("ine").isNull, 1)) === 0)
            .as("pairs_subset_ok"),
          count(when(col("ins").isNotNull && col("ine").isNotNull, 1)).as("nf"))
        .select(col("ne").as("n_exact_cross"), col("pairs_subset_ok"),
          (col("ne") === 0 ||
            col("nf").cast("double") / col("ne") >= 0.60).as("recall_ok"))
      nNew.crossJoin(broadcast(gates))
    }),

    // Q74 — incremental-dedup survivors: per-source retention counts
    // of the incoming batch (odd ids) after dropping docs with an
    // exact Jaccard>=0.5 near-dup in the accumulated base (even ids).
    // Pure re-aggregation of the staged pair graph — one anti-join +
    // one groupBy; the candidate machinery is q73's, this is the keep
    // decision a curation pipeline actually ships.
    "q74_dedup_survivors" -> ((s, d) => {
      val matched = jaccardPairs(s, d, 0.5)
        .filter(pmod(col("da"), lit(2L)) =!= pmod(col("db"), lit(2L)))
        .select(when(pmod(col("da"), lit(2L)) === 1L, col("da"))
          .otherwise(col("db")).as("doc_id"))
      documents(s, d).filter(pmod(col("doc_id"), lit(2L)) === 1L)
        .join(matched, Seq("doc_id"), "left_anti")
        .groupBy(col("source")).agg(count(lit(1)).as("kept"))
        .orderBy(col("source"))
    }),

    // Q81 — exact substring dedup (Lee et al. 2022): per-document
    // duplicated-SPAN profile — maximal runs of tokens covered by
    // 15-token windows that occur 2+ times anywhere in the corpus.
    // The span-level complement of the doc-level near-dup family:
    // q24/q28/q29 decide whole documents, this finds the boilerplate
    // REGIONS a curation pipeline strips. Scale shape (see
    // SubstringDedup): codegen'd window emit off the cached token
    // arrays, ONE count shuffle (hashed=false here so the DuckDB
    // oracle replicates the key; the 100 TB path flips to 8-byte
    // xxhash64 keys, spec-pinned equal), AQE-sized join-back, per-doc
    // gaps-and-islands windows.
    "q81_substring_dedup" -> ((s, d) =>
      graft.operators.SubstringDedup
        .profile(docToks(s, d), "doc_id", "toks", window = 15)
        .select(col("doc_id"), col("n_tokens"), col("n_dup_spans"),
          col("dup_tokens"), rk(col("dup_frac"), 6).as("dup_frac"))
        .orderBy(col("doc_id"))),

    // Q84 — the REMOVAL pass over q81's detection (Lee et al. 2022
    // strip the duplicated spans, they don't just report them):
    // every document comes back with its removable spans deleted,
    // keep-first-occurrence — the corpus-first carrier of a
    // boilerplate block keeps it, every later carrier loses it. Same
    // scale shape as q81 (the first-occurrence mark rides the count
    // shuffle as a min(struct)) plus one doc-keyed join of strip
    // spans back to the corpus; the token rewrite is per-row,
    // bounded by the document's own length. Composes with q54: the
    // cleaned relation is a drop-in replacement for its input.
    "q84_substring_strip" -> ((s, d) =>
      graft.operators.SubstringDedup
        .strip(docToks(s, d), "doc_id", "toks", window = 15)
        .select(col("doc_id"),
          size(col("toks_clean")).cast("long").as("n_kept"),
          array_join(col("toks_clean"), " ").as("clean_text"))
        .orderBy(col("doc_id"))),

    // Q44 — TF-IDF top terms: tf = count/doc-length, idf =
    // ln((N+1)/(df+1)), top-20 (doc, term) pairs. Scale shape: two
    // shuffles of the (doc, token) pairs (tf agg, df agg + join keyed
    // by token) and a 1-row broadcast for N — document-frequency is NOT
    // force-broadcast because a web-scale vocabulary outgrows the
    // driver; AQE picks broadcast when it fits.
    "q44_tfidf" -> ((s, d) => {
      val (tf, dl, dfreq, nDocs) = tfidfStats(s, d)
      tf.join(dl, "doc_id").join(dfreq, "token").crossJoin(nDocs)
        .select(col("doc_id"), col("token"), rk(tfidfScore, 6).as("tfidf"))
        .orderBy(col("tfidf").desc, col("doc_id"), col("token")).limit(20)
    }),

    // Q100 — BPE vocabulary induction + apply (Sennrich et al. 2016),
    // the full merge LOOP over q64's pair statistics: the corpus
    // collapses to its (word, freq) table (ONE count shuffle — the
    // sufficient statistic for every round, vocabulary-bounded, never
    // corpus-bounded), the driver learns BpeMerges merges
    // deterministically (ties → smallest "a b" string), and the apply
    // side segments the top words with the learned table via the
    // codegen bpe_segment expression (merges plan-embedded). The
    // oracle REPLAYS training: the same capped word table, then
    // BpeMerges unrolled rounds of best-pair selection + left-to-right
    // non-overlapping merge in pure SQL (the doubled-space replace
    // trick), so merge selection, tie-breaks, merge application AND
    // the apply path all sit inside one DuckDB equality.
    "q100_bpe_train_apply" -> ((s, d) => {
      val merges = bpeMerges(s, d)
      bpeWordFreqs(s, d)
        .orderBy(col("freq").desc, col("word")).limit(50)
        .select(col("word"), col("freq"),
          org.apache.spark.sql.graftfns.BpeSegment
            .bpeSegment(col("word"), merges).as("seg"))
        .withColumn("n_pieces",
          size(split(col("seg"), " ")).cast("long"))
        .orderBy(col("freq").desc, col("word"))
    }),

    // Q101 — sequence packing over REAL subword ids: q66's
    // concat-and-chunk layout re-pointed at the q100-trained BPE
    // vocabulary — each doc's token budget is its BPE piece count
    // (lowercase-alpha words segment under the learned merges;
    // non-alpha tokens take the BYTE FALLBACK, one `<0xNN>` unit per
    // UTF-8 octet — the GPT-2/SentencePiece shape that keeps the
    // budget honest on mixed-script corpora; round 18), cumulated by
    // the distributed PrefixSum into 2048-piece training sequences.
    // Scale shape: the piece count is MAP-ONLY (bpe_segment inside a
    // transform+aggregate fold over the cached token arrays — no
    // explode, no shuffle before the prefix sum), then PrefixSum's
    // two-phase scan; the merge table rides the plan as literals. The
    // oracle replays training on the CAPPED vocab (q100's chain) but
    // applies the merges to the FULL distinct-word list, exactly like
    // the engine's apply path — so the gate stays exact even when the
    // corpus vocabulary outgrows the training cap.
    "q101_bpe_packing" -> ((s, d) => {
      val merges = bpeMerges(s, d)
      val seqLen = 2048L
      val pieces = docToks(s, d).select(col("doc_id"),
        aggregate(
          transform(col("toks"), t =>
            when(t.rlike("^[a-z]+$"),
              size(split(org.apache.spark.sql.graftfns.BpeSegment
                .bpeSegment(t, merges), lit(" "))))
              .otherwise(octet_length(t)).cast("long")),
          lit(0L), (acc, x) => acc + x).as("n_tok"))
      graft.operators.PrefixSum
        .exclusive(pieces, Seq(col("doc_id")), col("n_tok"), "tok_start")
        .select(col("doc_id"), col("n_tok"),
          expr(s"tok_start div $seqLen").as("pack_id"),
          pmod(col("tok_start"), lit(seqLen)).as("pack_offset"))
        .orderBy(col("doc_id"))
    }),

    // Q106 — packed training-shard MATERIALIZATION: q101 computed the
    // (pack_id, offset) assignment; this writes the actual
    // fixed-length token-id rows a trainer reads (PackedShards: one
    // prefix-sum pass + one pack_id shuffle, codegen slices, no
    // driver tokens; staged as parquet once per corpus — the
    // training-shard sink) and then REASSEMBLES the per-document
    // assignment from the written shards' doc_spans alone. Equality
    // with the q101 oracle (the full BPE-train + segment + prefix-sum
    // replay) proves the shards are LOSSLESS w.r.t. the packing spec:
    // every document's tokens land whole, in order, at exactly the
    // declared offsets — and the `contiguous` gate breaks if a middle
    // span were misplaced even with the sums intact. Token ids are
    // xxhash64 of the BPE piece (plan-embedded merges, the q107
    // byte-fallback segmenter — so the id stream's length IS q101's
    // byte-honest budget); span bookkeeping is id-agnostic, and
    // PackedShardsSpec pins the id-level layout on known fixtures.
    "q106_packed_shards" -> ((s, d) => {
      val merges = bpeMerges(s, d)
      val shards = staged(s, d, "packedShardsV2") {
        val ids = docToks(s, d).select(col("doc_id"),
          transform(
            flatten(transform(col("toks"), t =>
              split(org.apache.spark.sql.graftfns.BpeSegment
                .bpeSegmentBytes(t, merges), " "))),
            p => xxhash64(p)).as("ids"))
        graft.operators.PackedShards.packs(ids, col("doc_id"), col("ids"),
          2048, padId = -1L)
      }
      graft.operators.PackedShards.reassemble(shards, 2048)
        .orderBy(col("doc_id"))
    }),

    // Q107 — BYTE-FALLBACK BPE apply on mixed-script tokens, CHECKED
    // per (doc, slot): each doc_id%5 slot carries a token the
    // training vocabulary (^[a-z]+$) can never cover — accented
    // Latin, CJK, alphanumeric, emoji+ascii, and a three-script mix —
    // and bpe_segment_bytes must segment it into its UTF-8 bytes as
    // `<0xNN>` units (the GPT-2/SentencePiece fallback). The oracle
    // RENDERS the expected unit string from DuckDB's own hex() of the
    // same literal, so UTF-8 octet framing, the unit rendering AND
    // the piece count all sit inside the equality; `alpha_merged`
    // pins in-oracle that a trainable token still takes the LEARNED
    // merges (byte fallback must not leak into the vocab path —
    // computed in Spark by comparing both apply forms on an alpha
    // corpus word, TRUE expected).
    "q107_bpe_byte_fallback" -> ((s, d) => {
      import org.apache.spark.sql.graftfns.BpeSegment.{bpeSegment, bpeSegmentBytes}
      val merges = bpeMerges(s, d)
      val tok = element_at(
        array(lit("héllo"), lit("数据"), lit("a1b2"), lit("👍ok"),
          lit("café№7")),
        (pmod(col("doc_id"), lit(5)) + 1).cast("int"))
      val alphaWord = lit("data")
      documents(s, d).select(col("doc_id"),
          tok.as("token"),
          bpeSegmentBytes(tok, merges).as("seg"),
          size(split(bpeSegmentBytes(tok, merges), lit(" ")))
            .cast("long").as("n_pieces"),
          (bpeSegmentBytes(alphaWord, merges) ===
            bpeSegment(alphaWord, merges)).as("alpha_merged"))
        .orderBy(col("doc_id"))
    })
  )

  /** q100's knobs — mirrored VERBATIM in the generated oracle SQL. */
  private val BpeMerges = 10
  private val BpeVocabCap = 65536

  /** The (word, freq) table BPE trains on: lowercase-alpha tokens
    * only (^[a-z]+$ keeps the char-split trivially identical across
    * engines — no codepoint-vs-UTF16 divergence), capped
    * deterministically at the top [[BpeVocabCap]] by (freq DESC,
    * word). The cap bounds the driver-held statistic at ANY corpus
    * scale; the excluded tail's pair mass is negligible by
    * construction (freq-ordered).
    */
  private def bpeWordFreqs(s: SparkSession, d: String): DataFrame =
    docToks(s, d).select(explode(col("toks")).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("word")).limit(BpeVocabCap)

  /** Learned merge table, once per (session, corpus) — the KMeans
    * model-cache shape: the collect is the capped vocabulary-bounded
    * statistic, never corpus rows.
    */
  private[graft] def bpeMerges(s: SparkSession, d: String): Seq[(String, String)] =
    memo(s, d, "bpeMerges") {
      val wf = bpeWordFreqs(s, d).collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq
      graft.operators.BpeTrain.train(wf, BpeMerges).merges
    }

  /** One training round's SQL (best-pair selection + doubled-space
    * merge) — ONE template shared by the q100 and q101 oracles so the
    * replace-trick semantics can never diverge between them.
    */
  private def bpeTrainRoundSql(k: Int): String =
    s"""b$k AS MATERIALIZED (
       |  SELECT pair, SUM(freq) AS cnt FROM (
       |    SELECT freq, unnest(list_transform(range(1, len(l)), i ->
       |             l[i] || ' ' || l[i+1])) AS pair
       |    FROM (SELECT freq, string_split(toks, ' ') AS l FROM w$k))
       |  GROUP BY pair ORDER BY cnt DESC, pair LIMIT 1),
       |w${k + 1} AS MATERIALIZED (
       |  SELECT word, freq, ${bpeMergeSql("b" + k)} AS toks
       |  FROM w$k)""".stripMargin

  /** The doubled-space replace that IS left-to-right non-overlapping
    * merge (adjacent occurrences stop sharing their boundary space);
    * coalesce(chr(1)) keeps a dry round a no-op instead of NULLing.
    */
  private def bpeMergeSql(bestCte: String): String =
    s"""trim(replace(replace(
       |    ' ' || replace(toks, ' ', '  ') || ' ',
       |    coalesce((SELECT ' ' || replace(pair, ' ', '  ') || ' ' FROM $bestCte), chr(1)),
       |    coalesce((SELECT ' ' || replace(pair, ' ', '') || ' ' FROM $bestCte), chr(1))),
       |    '  ', ' '))""".stripMargin

  /** The q100 oracle, generated: w0 = char-split capped word table;
    * round k picks b(k) = the (cnt DESC, pair ASC) best adjacent pair
    * and rewrites every word via the doubled-space replace (matches
    * left-to-right non-overlapping merge exactly: doubling makes
    * adjacent occurrences stop sharing their boundary space);
    * coalesce(chr(1)) keeps a dry round (no pairs left) a no-op
    * instead of NULLing the corpus.
    */
  private def bpeOracle: String = {
    val rounds = (0 until BpeMerges).map(bpeTrainRoundSql).mkString(",\n")
    s"""WITH wf AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS freq FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |             x -> x <> '')) AS tok
       |    FROM documents)
       |  WHERE regexp_matches(tok, '^[a-z]+$$')
       |  GROUP BY tok ORDER BY freq DESC, word LIMIT $BpeVocabCap),
       |w0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         array_to_string(list_transform(range(1, length(word) + 1),
       |           i -> substr(word, i, 1)), ' ') AS toks
       |  FROM wf),
       |$rounds
       |SELECT word, freq, toks AS seg,
       |       CAST(len(string_split(toks, ' ')) AS BIGINT) AS n_pieces
       |FROM w$BpeMerges ORDER BY freq DESC, word LIMIT 50""".stripMargin
  }

  /** The q101 oracle: the q100 TRAINING chain (capped vocab, the
    * b(k) selections) rerun verbatim, then the merges APPLIED — in
    * the same rank order, via the same doubled-space replace — to the
    * FULL distinct-word list (a0..aN, uncapped: exactly the engine's
    * apply path, which segments any alpha word whether or not it was
    * inside the training cap), then per-doc piece sums (non-alpha
    * tokens count 1) and the q66 window prefix sum into 2048-piece
    * packs.
    */
  private def bpePackingOracle(extraSelect: String = ""): String = {
    val trainRounds =
      (0 until BpeMerges).map(bpeTrainRoundSql).mkString(",\n")
    val applyRounds = (0 until BpeMerges).map { k =>
      s"""a${k + 1} AS MATERIALIZED (
         |  SELECT word, ${bpeMergeSql("b" + k)} AS toks
         |  FROM a$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS MATERIALIZED (
       |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |           x -> x <> '') AS toks
       |  FROM documents),
       |wf AS MATERIALIZED (
       |  SELECT tok AS word, COUNT(*) AS freq
       |  FROM (SELECT unnest(toks) AS tok FROM toks)
       |  WHERE regexp_matches(tok, '^[a-z]+$$')
       |  GROUP BY tok ORDER BY freq DESC, word LIMIT $BpeVocabCap),
       |w0 AS MATERIALIZED (
       |  SELECT word, freq,
       |         array_to_string(list_transform(range(1, length(word) + 1),
       |           i -> substr(word, i, 1)), ' ') AS toks
       |  FROM wf),
       |$trainRounds,
       |a0 AS MATERIALIZED (
       |  SELECT word,
       |         array_to_string(list_transform(range(1, length(word) + 1),
       |           i -> substr(word, i, 1)), ' ') AS toks
       |  FROM (SELECT DISTINCT unnest(toks) AS word FROM toks)
       |  WHERE regexp_matches(word, '^[a-z]+$$')),
       |$applyRounds,
       |pieces AS MATERIALIZED (
       |  SELECT word, CAST(len(string_split(toks, ' ')) AS BIGINT) AS np
       |  FROM a$BpeMerges),
       |ex AS (
       |  SELECT doc_id, unnest(toks) AS tok FROM toks),
       |cnt AS (
       |  SELECT ex.doc_id,
       |         SUM(CASE WHEN regexp_matches(ex.tok, '^[a-z]+$$')
       |             THEN p.np ELSE strlen(ex.tok) END) AS n_tok
       |  FROM ex LEFT JOIN pieces p ON p.word = ex.tok
       |  GROUP BY 1),
       |t AS (
       |  SELECT d.doc_id, CAST(COALESCE(c.n_tok, 0) AS BIGINT) AS n_tok
       |  FROM documents d LEFT JOIN cnt c USING (doc_id)),
       |pre AS (
       |  SELECT doc_id, n_tok,
       |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
       |  FROM t)
       |SELECT doc_id, n_tok, pre // 2048 AS pack_id, pre % 2048 AS pack_offset$extraSelect
       |FROM pre ORDER BY doc_id""".stripMargin
  }

  /** The (doc_id, token, tf_cnt) term-frequency relation — staged and
    * persisted like docToks, because it is the expensive half of the
    * tf-idf statistics: the full token explode plus the widest groupBy.
    * Round 7 derived it inline per consumer, so q44 and q69 each paid
    * the explode THREE ways (tf, dl, df) over the staged-parquet
    * docToks — the round-7 2× regression. Everything else in
    * tfidfStats is a cheap re-aggregation of this relation.
    */
  private[graft] def termFreqs(s: SparkSession, d: String): DataFrame =
    memo(s, d, "termFreqs")(staged(s, d, "termFreqs")(
      docToks(s, d).select(col("doc_id"), explode(col("toks")).as("token"))
        .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf_cnt"))))

  /** The tf-idf corpus statistics shared by q44 and q69's lexical leg:
    * (tf, dl, dfreq, nDocs). dl and dfreq re-aggregate the cached tf
    * relation (dl = Σ tf_cnt per doc, df = tf's row count per token —
    * identical to counting the exploded tokens, without re-exploding),
    * so the corpus text is tokenized and exploded exactly once per
    * store lifetime. One shuffle each over the (doc, token) pairs and a
    * 1-row broadcast; document-frequency is NOT force-broadcast (a
    * web-scale vocabulary outgrows the driver — AQE picks broadcast
    * when it fits).
    */
  private def tfidfStats(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val tf = termFreqs(s, d)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf_cnt")).as("dl"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val nDocs = broadcast(dl.select(count(lit(1)).as("n_docs")))
    (tf, dl, dfreq, nDocs)
  }

  /** tf/dl × ln((N+1)/(df+1)) over the tfidfStats column names — ONE
    * definition so q44 and q69 cannot drift apart.
    */
  private def tfidfScore: Column =
    (col("tf_cnt").cast("double") / col("dl")) *
      log((col("n_docs") + 1).cast("double") / (col("df") + 1))

  private val ContaminationSql =
    """WITH t AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
      |           x -> x <> '') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
      |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
      |  FROM t WHERE len(toks) >= 3),
      |bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 97 = 0),
      |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
      |       FROM sh WHERE doc_id % 97 <> 0),
      |ov AS (SELECT doc_id, ANY_VALUE(n) AS n, COUNT(*) AS overlap
      |       FROM ex JOIN bench USING (s) GROUP BY doc_id)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_shingles, overlap,
      |       FLOOR(CAST(overlap AS DOUBLE) / n * 1000000.0 + 0.5) / 1000000.0
      |         AS contamination
      |FROM ov WHERE CAST(overlap AS DOUBLE) / n >= 0.10
      |ORDER BY doc_id""".stripMargin

  /** The exact top-5 cosine reference (q25's arithmetic) with optional
    * extra projected columns — the single definition backing the q25
    * oracle AND the three checked-ANN oracles (q31/q42/q53), which are
    * this reference plus a literal TRUE gate column. One copy means the
    * reference arithmetic cannot silently diverge between them.
    */
  private def exactTop5Sql(extraCols: String): String =
    s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
       |c AS (
       |  SELECT vec_id,
       |         list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, qv),
       |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a,b) -> a+b)
       |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))
       |          * sqrt(list_reduce(list_prepend(0.0, list_transform(qv,
       |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))) AS cos
       |  FROM embeddings, q WHERE vec_id <> 0)
       |SELECT vec_id, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine$extraCols
       |FROM c ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin

  val oracle: Map[String, String] = Map(
    "q24_exact_dedup" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "q25_cosine_topk" -> exactTop5Sql(""),
    "q26_token_topk" ->
      """SELECT tok AS token, COUNT(*) AS cnt FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
        |  FROM documents)
        |GROUP BY tok ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q27_ngram_jaccard" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM t WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
        |         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, FLOOR(CAST(shared AS DOUBLE)/(na+nb-shared) * 1000000.0 + 0.5)
        |         / 1000000.0 AS jaccard
        |FROM p WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
        |ORDER BY da, db""".stripMargin,
    "q30_embed_neardup" ->
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)) AS nrm
        |  FROM embeddings),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x,y) -> x+y)
        |         / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT va, vb, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM p ORDER BY cos DESC, va, vb LIMIT 20""".stripMargin,
    "q32_langid" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS t
        |  FROM documents),
        |s AS (
        |  SELECT doc_id,
        |         SUM(CASE WHEN t IN ('table','window','merge') THEN 1 ELSE 0 END) AS s_de,
        |         SUM(CASE WHEN t IN ('the','a','value') THEN 1 ELSE 0 END) AS s_en,
        |         SUM(CASE WHEN t IN ('fast','group','row') THEN 1 ELSE 0 END) AS s_es,
        |         SUM(CASE WHEN t IN ('line','query','stream') THEN 1 ELSE 0 END) AS s_fr,
        |         SUM(CASE WHEN t IN ('scan','key','join') THEN 1 ELSE 0 END) AS s_zh
        |  FROM t GROUP BY doc_id)
        |SELECT doc_id,
        |       list_min([{'neg': -s_de, 'lang': 'de'}, {'neg': -s_en, 'lang': 'en'},
        |                 {'neg': -s_es, 'lang': 'es'}, {'neg': -s_fr, 'lang': 'fr'},
        |                 {'neg': -s_zh, 'lang': 'zh'}]).lang AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    "q33_quality" ->
      """WITH t AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents)
        |SELECT doc_id, n_chars, len(toks) AS n_tokens,
        |       FLOOR(CAST(list_reduce(list_prepend(0, list_transform(toks,
        |           t -> length(t))), (a,b) -> a+b) AS DOUBLE) / len(toks)
        |         * 10000.0 + 0.5) / 10000.0 AS avg_tok_len,
        |       FLOOR(CAST(len(list_filter(toks, t -> t IN ('the','a'))) AS DOUBLE)
        |         / len(toks) * 10000.0 + 0.5) / 10000.0 AS stopword_ratio
        |FROM t ORDER BY doc_id""".stripMargin,
    "q34_token_count_regex" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS BIGINT)
        |         AS n_distinct
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q35_fingerprint" ->
      """SELECT doc_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(string_split(text, ''), c -> CAST(ord(c) AS BIGINT))),
        |         (a, c) -> (a * 31 + c) % 1000000007) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q43_hash_sample" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE ((doc_id * 48271) % 2147483647) % 10 = 0
        |ORDER BY doc_id""".stripMargin,
    "q45_corpus_stats" ->
      """SELECT source, lang, COUNT(*) AS n_docs,
        |       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |       FLOOR(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) * 10000.0 + 0.5)
        |         / 10000.0 AS avg_chars,
        |       MIN(doc_id) AS first_doc
        |FROM documents GROUP BY source, lang ORDER BY source, lang""".stripMargin,
    "q46_dedup_clusters" ->
      """WITH RECURSIVE t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM t WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
        |         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS (SELECT da, db FROM p
        |          WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5),
        |edges AS (SELECT da AS a, db AS b FROM pairs
        |          UNION SELECT db, da FROM pairs),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
        |SELECT a AS doc_id, LEAST(a, MIN(b)) AS keep_id
        |FROM reach GROUP BY a ORDER BY doc_id""".stripMargin,
    "q47_contamination" -> ContaminationSql,
    // q59 is DEFINED to return exactly q47's rows (bloom screening is
    // recall-lossless and the exact join removes false positives) —
    // the oracle is q47's, verbatim.
    "q59_contamination_bloom" -> ContaminationSql,
    "q48_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) >= 3
        |              THEN list_transform(range(1, len(toks) - 1),
        |                     i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |              ELSE CAST([] AS VARCHAR[]) END AS grams
        |  FROM t WHERE len(toks) > 0),
        |m AS (
        |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |         FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
        |           * 1000000.0 + 0.5) / 1000000.0 AS dup_token_frac,
        |         CASE WHEN len(grams) > 0
        |              THEN FLOOR((1.0 - CAST(len(list_distinct(grams)) AS DOUBLE)
        |                / len(grams)) * 1000000.0 + 0.5) / 1000000.0
        |              ELSE 0.0 END AS dup_3gram_frac
        |  FROM g)
        |SELECT doc_id, n_tokens, dup_token_frac, dup_3gram_frac,
        |       (dup_token_frac <= 0.6 AND dup_3gram_frac <= 0.2) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "q49_token_budget" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '')) AS BIGINT) AS n_tokens,
        |         (doc_id * 48271) % 2147483647 AS hk
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY hk, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM b)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 1000
        |ORDER BY source, cum_tokens, doc_id""".stripMargin,
    "q50_quantized_topk" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS mx
        |  FROM embeddings),
        |qn AS (
        |  SELECT vec_id,
        |         CASE WHEN mx > 0
        |              THEN list_transform(embedding,
        |                     x -> FLOOR(CAST(x AS DOUBLE) * 127.0 / mx + 0.5))
        |              ELSE list_transform(embedding, x -> 0.0) END AS qe
        |  FROM s),
        |qq AS (SELECT qe AS qv FROM qn WHERE vec_id = 0),
        |c AS (
        |  SELECT vec_id,
        |         list_reduce(list_prepend(0.0, list_transform(list_zip(qe, qv),
        |           p -> p[1] * p[2])), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(qe,
        |              x -> x * x)), (a,b) -> a+b))
        |          * sqrt(list_reduce(list_prepend(0.0, list_transform(qv,
        |              x -> x * x)), (a,b) -> a+b))) AS cos
        |  FROM qn, qq WHERE vec_id <> 0)
        |SELECT vec_id, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM c ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin,
    "q51_unigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents),
        |counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY 1),
        |tot AS (SELECT COUNT(*) AS total FROM tok),
        |scored AS (
        |  SELECT token,
        |         CAST(FLOOR(-ln(CAST(cnt AS DOUBLE) / total) * 1000000.0 + 0.5)
        |           AS BIGINT) AS lp_micro
        |  FROM counts CROSS JOIN tot),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_tokens, SUM(lp_micro) AS lp_sum
        |  FROM tok JOIN scored USING (token) GROUP BY doc_id)
        |SELECT doc_id, n_tokens,
        |       FLOOR(CAST(lp_sum AS DOUBLE) / (n_tokens * 1000000.0)
        |         * 10000.0 + 0.5) / 10000.0 AS mean_surprisal
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q52_stratified_sample" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE CASE WHEN lang = 'en'
        |           THEN ((doc_id * 48271) % 2147483647) % 100 < 50
        |           ELSE ((doc_id * 48271) % 2147483647) % 100 < 10 END
        |ORDER BY doc_id""".stripMargin,
    "q54_curation_pipeline" ->
      """WITH t AS (
        |  SELECT doc_id, source, text,
        |         list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, source, text,
        |         CAST(len(toks) AS BIGINT) AS n_tokens,
        |         FLOOR((1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
        |           * 1000000.0 + 0.5) / 1000000.0 AS dup_tok_frac
        |  FROM t WHERE len(toks) > 0),
        |gated AS (
        |  SELECT * FROM b
        |  WHERE n_tokens >= 20 AND n_tokens <= 1000 AND dup_tok_frac <= 0.6),
        |keepers AS (
        |  SELECT MIN(doc_id) AS doc_id, arg_min(source, doc_id) AS source,
        |         ANY_VALUE(n_tokens) AS n_tokens
        |  FROM gated GROUP BY text),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         CAST(SUM(n_tokens) OVER (PARTITION BY source
        |           ORDER BY (doc_id * 48271) % 2147483647, doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM keepers)
        |SELECT doc_id, source, n_tokens, cum_tokens
        |FROM c WHERE cum_tokens <= 1000
        |ORDER BY source, cum_tokens, doc_id""".stripMargin,
    "q44_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf_cnt FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM dl)
        |SELECT tf.doc_id, tf.token,
        |       FLOOR((CAST(tf_cnt AS DOUBLE) / dl)
        |         * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) * 1000000.0 + 0.5)
        |         / 1000000.0 AS tfidf
        |FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) CROSS JOIN nd
        |ORDER BY tfidf DESC, tf.doc_id, tf.token LIMIT 20""".stripMargin,
    // Round-6 checked gates for the formerly-`no_oracle` queries: the
    // engine-hash / trained-model parts cannot be replicated by an
    // external engine, so each query emits (a) reference values DuckDB
    // CAN recompute independently and (b) boolean quality gates the
    // Spark side computes against its own exact reference — a FALSE
    // anywhere breaks the hash compare. See each query's comment.
    // q28/q60 derive the SAME gate-sample modulus the Spark side uses
    // (gateSampleMod: full corpus below the threshold, the Lehmer
    // slice ~1000 rows above it) from COUNT(*), so the oracle
    // replicates the row set at every scale, sampled or not.
    "q28_minhash_lsh" ->
      """WITH mm AS (
        |  SELECT CASE WHEN COUNT(*) <= 10000 THEN 1
        |              ELSE greatest(1, COUNT(*) // 1000) END AS m
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |  WHERE (((doc_id % 2147483647) * 48271) % 2147483647) % (SELECT m FROM mm) = 0),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM t WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
        |         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, FLOOR(CAST(shared AS DOUBLE)/(na+nb-shared) * 1000000.0 + 0.5)
        |         / 1000000.0 AS jaccard, TRUE AS lsh_ok, TRUE AS recall_ok
        |FROM p WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
        |ORDER BY da, db""".stripMargin,
    "q29_simhash" ->
      """SELECT COUNT(*) AS n_docs_hashed, TRUE AS pairs_valid, TRUE AS configs_agree
        |FROM documents
        |WHERE text IS NOT NULL
        |  AND len(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) > 0""".stripMargin,
    "q31_ann_lsh" -> exactTop5Sql(", TRUE AS recall_ok"),
    "q42_ann_ivf" -> exactTop5Sql(", TRUE AS recall_ok"),
    "q53_ann_pq" -> exactTop5Sql(", TRUE AS recall_ok"),
    "q60_semantic_dedup" ->
      """WITH mm AS (
        |  SELECT CASE WHEN COUNT(*) <= 4000 THEN 1
        |              ELSE greatest(1, COUNT(*) // 1000) END AS m
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)) AS nrm
        |  FROM embeddings
        |  WHERE (((vec_id % 2147483647) * 48271) % 2147483647) % (SELECT m FROM mm) = 0),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x,y) -> x+y)
        |         / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |  WHERE a.nrm > 0 AND b.nrm > 0)
        |SELECT (SELECT COUNT(*) FROM embeddings) AS n_vecs,
        |       (SELECT COUNT(*) FROM p WHERE cos >= 0.40) AS n_exact_pairs,
        |       TRUE AS pairs_subset_ok, TRUE AS recall_ok""".stripMargin,
    "q63_winnow_fingerprints" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS sh
        |  FROM t WHERE len(toks) >= 3),
        |h AS (
        |  SELECT doc_id, list_transform(sh, s ->
        |           list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(string_split(s, ''), c -> CAST(ord(c) AS BIGINT))),
        |             (a, c) -> (a * 31 + c) % 1000000007)) AS hs
        |  FROM g),
        |w AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(hs) - 2),
        |           i -> list_min(hs[i:i+3]))) AS fps
        |  FROM h WHERE len(hs) >= 4),
        |ex AS (SELECT doc_id, unnest(fps) AS fp FROM w),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared
        |  FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, shared FROM p WHERE shared >= 3
        |ORDER BY da, db""".stripMargin,
    "q64_bpe_pairs" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |p AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |           i -> {'t1': toks[i], 't2': toks[i+1]})) AS pr
        |  FROM t WHERE len(toks) >= 2)
        |SELECT pr.t1 AS t1, pr.t2 AS t2, COUNT(*) AS cnt
        |FROM p GROUP BY 1, 2
        |ORDER BY cnt DESC, t1, t2 LIMIT 30""".stripMargin,
    "q65_source_overlap" ->
      """WITH t AS (
        |  SELECT doc_id, source, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT source, unnest(list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS g
        |  FROM t WHERE len(toks) >= 3),
        |sh AS (
        |  SELECT DISTINCT source,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(string_split(g, ''), c -> CAST(ord(c) AS BIGINT))),
        |      (a, c) -> (a * 31 + c) % 1000000007) AS s
        |  FROM sh0),
        |sz AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY 1),
        |ov AS (
        |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS shared
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT src_a, src_b, shared,
        |  FLOOR(CAST(shared AS DOUBLE) / za.n_sh * 1000000.0 + 0.5) / 1000000.0 AS cont_a,
        |  FLOOR(CAST(shared AS DOUBLE) / zb.n_sh * 1000000.0 + 0.5) / 1000000.0 AS cont_b
        |FROM ov JOIN sz za ON ov.src_a = za.source JOIN sz zb ON ov.src_b = zb.source
        |ORDER BY src_a, src_b""".stripMargin,
    "q68_filtered_topk" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |c AS (
        |  SELECT vec_id,
        |         list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, qv),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))
        |          * sqrt(list_reduce(list_prepend(0.0, list_transform(qv,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))) AS cos
        |  FROM embeddings, q
        |  WHERE vec_id <> 0
        |    AND vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en'))
        |SELECT vec_id, FLOOR(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |FROM c ORDER BY cos DESC, vec_id LIMIT 5""".stripMargin,
    "q69_hybrid_rrf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf_cnt FROM tok GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT COUNT(*) AS n_docs FROM dl),
        |lexTop AS (
        |  SELECT tf.doc_id,
        |         (CAST(tf_cnt AS DOUBLE) / dl)
        |           * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) AS lscore
        |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (token) CROSS JOIN nd
        |  WHERE token = 'spark'
        |  ORDER BY lscore DESC, tf.doc_id LIMIT 100),
        |lex AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (ORDER BY lscore DESC, doc_id) AS rank_lex
        |        FROM lexTop),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |vecTop AS (
        |  SELECT vec_id AS doc_id,
        |         list_reduce(list_prepend(0.0, list_transform(list_zip(embedding, q),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (a,b) -> a+b)
        |         / (sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))
        |          * sqrt(list_reduce(list_prepend(0.0, list_transform(q,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b))) AS vscore
        |  FROM embeddings, qv WHERE vec_id <> 0
        |  ORDER BY vscore DESC, doc_id LIMIT 100),
        |vec AS (SELECT doc_id,
        |          ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id) AS rank_vec
        |        FROM vecTop),
        |f AS (
        |  SELECT doc_id,
        |         COALESCE(CAST(1 AS DOUBLE) / (60 + rank_lex), 0)
        |           + COALESCE(CAST(1 AS DOUBLE) / (60 + rank_vec), 0) AS rrf
        |  FROM lex FULL OUTER JOIN vec USING (doc_id))
        |SELECT doc_id, FLOOR(rrf * 1000000.0 + 0.5) / 1000000.0 AS rrf
        |FROM f ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,
    "q70_pii_scrub" ->
      """WITH p AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@mail.com or 555-'
        |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |           || '-1234 ref ' || CAST(doc_id + 100000 AS VARCHAR) AS text
        |  FROM documents)
        |SELECT doc_id,
        |       regexp_replace(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |         '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}', '<PHONE>', 'g'),
        |         '[0-9]{6,}', '<ID>', 'g') AS scrubbed,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}'))
        |          + len(regexp_extract_all(text, '[0-9]{3}[-.][0-9]{3,4}[-.][0-9]{4}'))
        |          + len(regexp_extract_all(text, '[0-9]{6,}')) AS BIGINT) AS n_pii
        |FROM p ORDER BY doc_id""".stripMargin,
    "q71_doc_chunking" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |b AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks,
        |        unnest(range(0, greatest((n - 32 + 23) // 24, 0) + 1)) AS chunk_idx
        |      FROM b)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 AS start_tok,
        |       CAST(len(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32]) AS BIGINT) AS n_tok,
        |       array_to_string(toks[chunk_idx*24 + 1 : chunk_idx*24 + 32], ' ') AS chunk_text
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,
    "q72_split_leakage" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM t WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
        |         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pr AS (
        |  SELECT da, db,
        |         FLOOR(CAST(shared AS DOUBLE)/(na+nb-shared) * 1000000.0 + 0.5)
        |           / 1000000.0 AS jaccard,
        |         CASE WHEN (da * 48271) % 2147483647 % 100 < 90
        |              THEN 'train' ELSE 'val' END AS split_a,
        |         CASE WHEN (db * 48271) % 2147483647 % 100 < 90
        |              THEN 'train' ELSE 'val' END AS split_b
        |  FROM p WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5)
        |SELECT da, db, jaccard, split_a, split_b FROM pr
        |WHERE split_a <> split_b ORDER BY da, db""".stripMargin,
    "q73_incremental_dedup" ->
      """WITH mm AS (
        |  SELECT CASE WHEN COUNT(*) <= 10000 THEN 1
        |              ELSE greatest(1, COUNT(*) // 1000) END AS m
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents
        |  WHERE (((doc_id % 2147483647) * 48271) % 2147483647) % (SELECT m FROM mm) = 0),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM t WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
        |         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |             AND (a.doc_id % 2) <> (b.doc_id % 2)
        |  GROUP BY 1, 2)
        |SELECT da, db, FLOOR(CAST(shared AS DOUBLE)/(na+nb-shared) * 1000000.0 + 0.5)
        |         / 1000000.0 AS jaccard, TRUE AS lsh_ok, TRUE AS recall_ok
        |FROM p WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5
        |ORDER BY da, db""".stripMargin,
    "q75_semantic_incremental" ->
      """WITH mm AS (
        |  SELECT CASE WHEN COUNT(*) <= 4000 THEN 1
        |              ELSE greatest(1, COUNT(*) // 1000) END AS m
        |  FROM embeddings),
        |e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a,b) -> a+b)) AS nrm
        |  FROM embeddings
        |  WHERE (((vec_id % 2147483647) * 48271) % 2147483647) % (SELECT m FROM mm) = 0),
        |p AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |         list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding, b.embedding),
        |           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))), (x,y) -> x+y)
        |         / (a.nrm * b.nrm) AS cos
        |  FROM e a JOIN e b ON a.vec_id < b.vec_id
        |             AND (a.vec_id % 2) <> (b.vec_id % 2)
        |  WHERE a.nrm > 0 AND b.nrm > 0)
        |SELECT (SELECT COUNT(*) FROM embeddings WHERE vec_id % 2 = 1) AS n_new,
        |       (SELECT COUNT(*) FROM p WHERE cos >= 0.40) AS n_exact_cross,
        |       TRUE AS pairs_subset_ok, TRUE AS recall_ok""".stripMargin,
    "q74_dedup_survivors" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
        |           i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingles
        |  FROM t WHERE len(toks) >= 3),
        |ex AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
        |p AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS shared,
        |         ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |             AND (a.doc_id % 2) <> (b.doc_id % 2)
        |  GROUP BY 1, 2),
        |matched AS (
        |  SELECT DISTINCT CASE WHEN da % 2 = 1 THEN da ELSE db END AS doc_id
        |  FROM p WHERE CAST(shared AS DOUBLE)/(na+nb-shared) >= 0.5)
        |SELECT source, COUNT(*) AS kept FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM matched)
        |GROUP BY source ORDER BY source""".stripMargin,
    "q66_sequence_packing" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, n_tok,
        |         CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pre
        |  FROM t)
        |SELECT doc_id, n_tok, pre // 2048 AS pack_id, pre % 2048 AS pack_offset
        |FROM p ORDER BY doc_id""".stripMargin,
    "q67_mixture_weights" ->
      """WITH t AS (
        |  SELECT source, CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '')) AS BIGINT) AS n_tok
        |  FROM documents),
        |s AS (SELECT source, CAST(SUM(n_tok) AS BIGINT) AS toks, COUNT(*) AS docs
        |      FROM t GROUP BY 1),
        |g AS (SELECT CAST(SUM(toks) AS BIGINT) AS tot_toks, COUNT(*) AS n_src FROM s)
        |SELECT source, toks, docs,
        |  FLOOR(CAST(toks AS DOUBLE) / tot_toks * 1000000.0 + 0.5) / 1000000.0 AS share,
        |  FLOOR(CAST(tot_toks AS DOUBLE) / (n_src * toks) * 1000000.0 + 0.5) / 1000000.0 AS weight
        |FROM s, g ORDER BY source""".stripMargin,
    "q81_substring_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+14], ' ') AS win
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 13)) AS i)
        |  WHERE len(toks) >= 15),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |occ AS (SELECT w.doc_id, w.pos FROM w JOIN dup USING (win)),
        |fl AS (
        |  SELECT doc_id, pos,
        |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM occ),
        |grp AS (
        |  SELECT doc_id, pos,
        |         SUM(CASE WHEN prev IS NULL OR pos > prev + 15 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM fl),
        |sp AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + 14 AS e
        |       FROM grp GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_dup_spans,
        |         CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
        |  FROM sp GROUP BY 1)
        |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
        |       COALESCE(a.n_dup_spans, 0) AS n_dup_spans,
        |       COALESCE(a.dup_tokens, 0) AS dup_tokens,
        |       FLOOR(CAST(COALESCE(a.dup_tokens, 0) AS DOUBLE) / len(t.toks)
        |             * 1000000.0 + 0.5) / 1000000.0 AS dup_frac
        |FROM t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q84_substring_strip" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'),
        |           x -> x <> '') AS toks
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+14], ' ') AS win
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) - 13)) AS i)
        |  WHERE len(toks) >= 15),
        |dup AS (SELECT win FROM w GROUP BY win HAVING COUNT(*) >= 2),
        |occ AS (
        |  SELECT w.doc_id, w.pos,
        |         row_number() OVER (PARTITION BY w.win ORDER BY w.doc_id, w.pos) AS rn
        |  FROM w JOIN dup USING (win)),
        |rem AS (SELECT doc_id, pos FROM occ WHERE rn >= 2),
        |fl AS (
        |  SELECT doc_id, pos,
        |         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM rem),
        |grp AS (
        |  SELECT doc_id, pos,
        |         SUM(CASE WHEN prev IS NULL OR pos > prev + 15 THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY doc_id ORDER BY pos) AS g
        |  FROM fl),
        |sp AS (SELECT doc_id, g, MIN(pos) AS s, MAX(pos) + 14 AS e
        |       FROM grp GROUP BY 1, 2),
        |tok AS (
        |  SELECT t.doc_id, i - 1 AS pos, toks[i] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(toks) + 1)) AS i)),
        |kept AS (
        |  SELECT k.doc_id, k.pos, k.tok FROM tok k
        |  WHERE NOT EXISTS (SELECT 1 FROM sp
        |                    WHERE sp.doc_id = k.doc_id
        |                      AND k.pos BETWEEN sp.s AND sp.e)),
        |agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |         string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
        |       COALESCE(a.clean_text, '') AS clean_text
        |FROM t LEFT JOIN agg a USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q61_percentile_gate" ->
      """WITH b AS (
        |  SELECT lang, quantile_cont(n_chars, 0.05) AS lo,
        |         quantile_cont(n_chars, 0.95) AS hi
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |       FLOOR(lo * 10000.0 + 0.5) / 10000.0 AS lo,
        |       FLOOR(hi * 10000.0 + 0.5) / 10000.0 AS hi
        |FROM documents d JOIN b ON d.lang = b.lang
        |WHERE n_chars >= lo AND n_chars <= hi
        |ORDER BY doc_id""".stripMargin,
    // generated: BpeMerges unrolled best-pair + merge rounds — see
    // bpeOracle's doc for the doubled-space replace equivalence
    "q100_bpe_train_apply" -> bpeOracle,
    // generated: the training chain + full-vocab APPLY + per-doc piece
    // sums + the q66 window prefix sum — see bpePackingOracle
    "q101_bpe_packing" -> bpePackingOracle(),
    // the SAME assignment replay, but compared against what the
    // WRITTEN shards' doc_spans reassemble to — plus the contiguity
    // gate (see q106's comment)
    "q106_packed_shards" -> bpePackingOracle(", TRUE AS contiguous"),
    // byte-fallback rendering rebuilt from DuckDB's own hex() of the
    // same slot literals — octet framing + unit form + count in one
    // equality
    "q107_bpe_byte_fallback" ->
      """WITH toks(slot, t) AS (VALUES
        |  (0, 'héllo'), (1, '数据'), (2, 'a1b2'), (3, '👍ok'), (4, 'café№7'))
        |SELECT d.doc_id, t.t AS token,
        |  array_to_string(list_transform(range(1, strlen(t.t) + 1),
        |    i -> '<0x' || lower(substr(hex(t.t), (2*i-1)::int, 2)) || '>'),
        |    ' ') AS seg,
        |  CAST(strlen(t.t) AS BIGINT) AS n_pieces,
        |  TRUE AS alpha_merged
        |FROM documents d JOIN toks t ON t.slot = d.doc_id % 5
        |ORDER BY d.doc_id""".stripMargin
  )
}
