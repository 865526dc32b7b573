package perfbench

/** Per-layer metrics of a traced run. Every metric is reported on every
  * workload, per traced pass; a layer a workload does not exercise
  * reads 0. `perfbench/layers.json` records which end-to-end metric
  * each one should move, and on which workload.
  */
object LayerMetrics {
  val Derivations: Seq[String] = Seq("docToks", "termFreqs", "shingleSets", "simhashes",
    "jaccardPairs", "embCorpus", "ivfModel", "pqModel", "lshIndex")

  /** Query -> operator families it runs, read off `LlmQueries.all`. */
  val QueryOperators: Map[String, Seq[String]] = Map(
    "keyed_pairs" -> Seq("q27_ngram_jaccard", "q28_minhash_lsh", "q29_simhash",
      "q30_embed_neardup", "q59_contamination_bloom", "q60_semantic_dedup",
      "q61_percentile_gate", "q63_winnow_fingerprints", "q64_bpe_pairs",
      "q72_split_leakage", "q73_incremental_dedup", "q74_dedup_survivors",
      "q75_semantic_incremental"),
    "components" -> Seq("q43_hash_sample", "q46_dedup_clusters", "q59_contamination_bloom"),
    "ivf_pq" -> Seq("q31_ann_lsh", "q42_ann_ivf", "q53_ann_pq", "q75_semantic_incremental"),
    "bpe" -> Seq("q44_tfidf", "q64_bpe_pairs", "q100_bpe_train_apply", "q101_bpe_packing",
      "q106_packed_shards", "q107_bpe_byte_fallback"))
    .toSeq.flatMap { case (op, qs) => qs.map(_ -> op) }
    .groupBy(_._1).map { case (q, ops) => q -> ops.map(_._2) }

  /** Operator source files whose own jobs (eager ones, or ones a caller
    * triggers) count towards each family.
    */
  val OperatorFiles: Map[String, Seq[String]] = Map(
    "seqno" -> Seq("Seqno.scala", "PrefixSum.scala"),
    "keyed_pairs" -> Seq("KeyedPairs.scala", "DupCollapse.scala"),
    "components" -> Seq("ConnectedComponents.scala"),
    "ivf_pq" -> Seq("IvfIndex.scala", "PqIndex.scala", "KMeans.scala"),
    "bpe" -> Seq("Bpe.scala"))

  val SelfLayers: Seq[(String, String)] = Seq("bench" -> "bench", "bag" -> "graft.ros.bag",
    "mcap" -> "graft.ros.mcap", "db3" -> "graft.ros.db3", "etl" -> "graft.ros.etl",
    "operators" -> "graft.operators", "queries" -> "graft.queries", "graft" -> "graft")

  /** (name, unit) of every per-layer metric, in report order. */
  val Catalog: Seq[(String, String)] = Seq(
    "bag.index_s" -> "s", "bag.scan_mb_s" -> "MB/s", "bag.read_amplification" -> "ratio",
    "bag.sink_mb_s" -> "MB/s",
    "mcap.scan_mb_s" -> "MB/s", "mcap.sink_mb_s" -> "MB/s", "mcap.range_read_ratio" -> "ratio",
    "db3.scan_mb_s" -> "MB/s", "db3.sink_mb_s" -> "MB/s", "db3.range_read_ratio" -> "ratio",
    "etl.spine_s" -> "s", "etl.seqno_s" -> "s", "etl.type_tables_s" -> "s",
    "etl.messages_s" -> "s", "etl.out_mb" -> "MB",
    "op.seqno_s" -> "s", "op.keyed_pairs_s" -> "s", "op.components_s" -> "s",
    "op.ivf_pq_s" -> "s", "op.bpe_s" -> "s",
    "queries.build_s" -> "s", "queries.eager_jobs" -> "count", "queries.exec_s" -> "s",
    "queries.derive_s" -> "s") ++
    Derivations.map(d => s"queries.derive.${d}_s" -> "s") ++ Seq(
    "queries.cached_mb" -> "MB",
    "fns.tokenize_rows_s" -> "rows/s", "fns.dot_rows_s" -> "rows/s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.core_busy_ratio" -> "ratio", "spark.driver_only_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
    "spark.failed_tasks" -> "count") ++
    SelfLayers.map { case (n, _) => s"self.${n}_s" -> "s" } ++ Seq(
    "trace.wall_s" -> "s", "trace.unattributed_s" -> "s", "trace.overhead_ratio" -> "ratio",
    "trace.spans" -> "count")

  def machineCpus(): Int =
    try scala.io.Source.fromFile("/proc/cpuinfo").getLines().count(_.startsWith("processor"))
    catch { case _: Exception => Runtime.getRuntime.availableProcessors }

  /** Checks the sweep in `Trace.selfTime` against an independent
    * computation. Self times plus unattributed add up to the window by
    * construction, so what is checked is the split: the self times must
    * add up to the union of all span intervals, unattributed to the rest
    * of the window, and no span may get more self time than its length.
    */
  def balanced(t: Tracer#Trace): Boolean = {
    val eps = 1e-6 * math.max(1.0, t.wallSeconds)
    val covered = Tracer.unionSeconds(t.clipped.map(s => (s.start, s.end)))
    val ok = math.abs(t.selfTime.values.sum - covered) <= eps &&
      math.abs(t.unattributed - (t.wallSeconds - covered)) <= eps &&
      t.clipped.forall(s => t.selfTime.getOrElse(s.id, 0.0) <= (s.end - s.start) / 1e9 + eps)
    if (!ok) System.err.println(f"[perfbench] trace does not balance: self " +
      f"${t.selfTime.values.sum}%.6f s + unattributed ${t.unattributed}%.6f s vs covered " +
      f"$covered%.6f s of ${t.wallSeconds}%.6f s")
    ok
  }

  def apply(t: Tracer#Trace, traced: Seq[Iteration], plain: Seq[Iteration], cores: Int,
      gcS: Double): Seq[(String, Double, String)] = {
    val n = math.max(1, traced.size).toDouble
    def mean(key: String): Double = {
      val xs = traced.flatMap(_.facts.get(key))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    val spans = t.clipped
    def union(p: Span => Boolean): Double =
      Tracer.unionSeconds(spans.filter(p).map(s => (s.start, s.end))) / n
    def fileJob(files: Seq[String])(s: Span) =
      s.kind == "job" && files.exists(f => s.name.endsWith("@" + f))
    def queryOf(s: Span) = s.name.split(':').lift(1).getOrElse("")
    def opTime(family: String) = union(s =>
      fileJob(OperatorFiles(family))(s) ||
        (s.kind == "bench" && (s.name.startsWith("queries.build:") || s.name.startsWith("queries.exec:")) &&
          QueryOperators.get(queryOf(s)).exists(_.contains(family))))
    val byId = t.byId
    val eager = spans.count(s => s.kind == "job" &&
      byId.get(s.parent).exists(_.name.startsWith("queries.build:")))
    val busy = t.tasks.map(x => (x.end - x.start) / 1e9).sum
    val taskUnion = Tracer.unionSeconds(t.tasks.map(x => (math.max(x.start, t.t0), math.min(x.end, t.t1))))
    val selfBy = t.selfByLayer
    val opsTime = (is: Seq[Iteration]) =>
      if (is.isEmpty) 0.0 else is.map(_.ops.map(_.seconds).sum).sum / is.size
    val values: Map[String, Double] = Map(
      "bag.index_s" -> mean("bag.index_s"),
      "bag.scan_mb_s" -> mean("bag.scan_mb_s"),
      "bag.read_amplification" -> mean("bag.read_amplification"),
      "bag.sink_mb_s" -> mean("bag.sink_mb_s"),
      "mcap.scan_mb_s" -> mean("mcap.scan_mb_s"),
      "mcap.sink_mb_s" -> mean("mcap.sink_mb_s"),
      "mcap.range_read_ratio" -> mean("mcap.range_read_ratio"),
      "db3.scan_mb_s" -> mean("db3.scan_mb_s"),
      "db3.sink_mb_s" -> mean("db3.sink_mb_s"),
      "db3.range_read_ratio" -> mean("db3.range_read_ratio"),
      "etl.spine_s" -> union(_.name == "etl.spine"),
      "etl.seqno_s" -> union(s => s.name == "etl.seqno" ||
        (s.layer == "graft.operators" && fileJob(OperatorFiles("seqno"))(s))),
      "etl.type_tables_s" -> union(_.name.startsWith("etl.type_table:")),
      "etl.messages_s" -> union(_.name == "etl.messages"),
      "etl.out_mb" -> mean("etl.out_mb"),
      "op.seqno_s" -> union(fileJob(OperatorFiles("seqno"))),
      "op.keyed_pairs_s" -> opTime("keyed_pairs"),
      "op.components_s" -> opTime("components"),
      "op.ivf_pq_s" -> opTime("ivf_pq"),
      "op.bpe_s" -> opTime("bpe"),
      "queries.build_s" -> mean("queries.build_s"),
      "queries.eager_jobs" -> eager / n,
      "queries.exec_s" -> mean("queries.exec_s"),
      "queries.derive_s" -> mean("queries.derive_s"),
      "queries.cached_mb" -> mean("queries.cached_mb"),
      "fns.tokenize_rows_s" -> mean("fns.tokenize_rows_s"),
      "fns.dot_rows_s" -> mean("fns.dot_rows_s"),
      "spark.jobs" -> t.jobs.size / n,
      "spark.tasks" -> t.tasks.size / n,
      "spark.task_busy_s" -> busy / n,
      "spark.core_busy_ratio" -> busy / math.max(1e-9, t.wallSeconds * cores),
      "spark.driver_only_s" -> (t.wallSeconds - taskUnion) / n,
      "spark.shuffle_write_mb" -> t.stages.map(_.shuffleWrite).sum / 1e6 / n,
      "spark.spill_mb" -> t.stages.map(_.spill).sum / 1e6 / n,
      "spark.gc_s" -> gcS / n,
      "spark.failed_tasks" -> t.tasks.count(!_.ok) / n,
      "trace.wall_s" -> t.wallSeconds / n,
      "trace.unattributed_s" -> t.unattributed / n,
      "trace.overhead_ratio" -> (if (plain.isEmpty) 0.0
        else opsTime(traced) / math.max(1e-9, opsTime(plain)) - 1.0),
      "trace.spans" -> spans.size / n) ++
      Derivations.map(d => s"queries.derive.${d}_s" -> mean(s"queries.derive.${d}_s")) ++
      SelfLayers.map { case (name, l) => s"self.${name}_s" -> selfBy.getOrElse(l, 0.0) / n }
    Catalog.map { case (name, unit) => (name, values(name), unit) }
  }
}
