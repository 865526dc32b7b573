package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark process for one workload run. `perfbench/run.py` builds the
  * program and starts this; see there for the command line.
  *
  * A run sets up (session, seeded fixtures generated three times, and
  * for most workloads one untimed warm-up pass), then repeats passes for
  * `--seconds`, at least one; after the first of them it takes the memory
  * the program holds. With
  * `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
  * measures half the time untraced, then attaches its listener and
  * reports the per-layer metrics of the traced passes. The last stdout
  * line is the result JSON.
  */
object Main {
  /** One or two queries per operator family and expression kind: dot
    * products, tokenizing, n-gram and SimHash pairs (KeyedPairs),
    * components, IVF, PQ and BPE.
    */
  val LlmQueries: Seq[String] = Seq("q25_cosine_topk", "q26_token_topk", "q27_ngram_jaccard",
    "q29_simhash", "q46_dedup_clusters", "q42_ann_ivf", "q53_ann_pq", "q100_bpe_train_apply")

  final case class Scale(etlBytes: Long, containerBytes: Long, llmQueries: Seq[String])
  val Scales: Map[String, Scale] = Map(
    "full" -> Scale(8L << 20, 6L << 20, LlmQueries),
    "smoke" -> Scale(1L << 20, 1L << 20, LlmQueries.take(2)))

  val WorkloadNames = Seq("etl_rosbag", "container_rw", "llm_corpus")
  val FixtureReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.max(0, math.ceil(p * s.size).toInt - 1))
  }

  private def loadavg(): String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).mkString("[", ",", "]")
    catch { case _: Exception => "null" }

  private def peakRssMb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  /** Heap and non-heap memory the program still holds after a full
    * collection, in MB: what it retains (caches, persisted blocks,
    * models, loaded code), free of when the collector last ran.
    */
  private def liveMb(): Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0 }
    // Spark's ContextCleaner frees shuffle and broadcast state off weak
    // references, after a collection and on its own thread: collect again
    // until the figure stops falling (one collection alone varies by ~65 MB)
    var cur = used(); var prev = Double.MaxValue; var n = 0
    while (prev - cur > 1.0 && n < 5) { Thread.sleep(200); prev = cur; cur = used(); n += 1 }
    cur
  }

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  private def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.math.BigDecimal.valueOf(x).toPlainString

  private def metricsJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val root = Paths.get(a.getOrElse("root", ".")).toAbsolutePath.normalize
    a.get("digest-dir") match {
      case Some(dir) => printDigests(dir); return
      case None =>
    }
    a.get("fixture-digest") match {
      case Some(w) => println(fixtureDigest(root, w, a("seed").toLong,
        Scales(a.getOrElse("scale", "full")))); return
      case None =>
    }
    val workload = a("workload")
    require(WorkloadNames.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val scale = Scales(a.getOrElse("scale", "full"))
    val work = root.resolve(".bench_build/perfbench/work").resolve(workload)
    Workloads.deleteTree(work)
    Files.createDirectories(work)

    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    val (spark, sessionS) = Workloads.timed(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "org.apache.spark.sql.graftfns.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark.sparkContext)

    val w: Workload = workload match {
      case "etl_rosbag" => new EtlRosbag(spark, tr, work, seed, scale.etlBytes)
      case "container_rw" => new ContainerRw(spark, tr, work, seed, scale.containerBytes)
      case _ => new LlmCorpus(spark, tr, work, seed, root.resolve("perfbench/corpus"),
        Digests.load(root.resolve("perfbench/llm_digests.json")), scale.llmQueries)
    }

    // set-up: fixtures several times (each must be byte-identical), then
    // one warm-up pass whose outputs are checked but not timed
    val gens = (1 to FixtureReps).map(_ => Workloads.timed(w.generate()))
    val fixtureOk = gens.map(_._1).distinct.size == 1
    if (!fixtureOk) System.err.println("[perfbench] fixtures differ between generations")
    val (warm, warmS) =
      if (w.warmPass || trace) Workloads.timed(Some(w.iteration())) else (None, 0.0)
    val setupS = sessionS + median(gens.map(_._2)) + warmS
    System.err.println(f"[perfbench] set-up: session $sessionS%.2f s, fixtures " +
      gens.map(g => f"${g._2}%.2f").mkString("/") + f" s, warm-up $warmS%.2f s")

    // Live memory is taken once, after the first measured pass, outside its
    // timed operations. Each pass leaves a little more behind (~10 MB on
    // etl_rosbag), so a figure over all passes would grow with the number
    // of passes that fit in the run, that is with the program's speed.
    var live = Option.empty[Double]
    def loop(budget: Double): Seq[Iteration] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Iteration]
      do {
        out += w.iteration()
        if (live.isEmpty) live = Some(liveMb())
      } while ((System.nanoTime() - t0) / 1e9 < budget)
      out.result()
    }
    val (plain, traced, trc, gcS) =
      if (!trace) (loop(seconds), Seq.empty, None, 0.0)
      else {
        val p = loop(seconds / 2)
        spark.sparkContext.addSparkListener(tr.listener)
        tr.enabled = true
        val gc0 = gcSeconds()
        val t0 = tr.now()
        // no span wraps the loop itself: time outside every span (clean-up
        // between operations, session changes) stays unattributed
        val t = loop(seconds / 2)
        val t1 = tr.now()
        val gc = gcSeconds() - gc0
        tr.enabled = false
        org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tr.listener)
        (p, t, Some(tr.resolve(t0, t1)), gc)
      }

    val all = warm.toSeq ++ plain ++ traced
    val ops = all.flatMap(_.ops)
    val failed = ops.count(!_.ok) + (if (fixtureOk) 0 else 1)
    val attempted = ops.size + 1
    val measured = plain.flatMap(_.ops).filter(_.ok)
    // llm_corpus's derivation build is one ~35 s operation next to queries
    // of a few seconds: it counts in throughput_mb_s and llm_run_s, but not
    // in the per-operation latencies, where it would drown the queries
    val latencyOps = measured.filter(_.name != "queries.derive")
    def iterS(i: Iteration) = i.ops.map(_.seconds).sum

    val load1 = loadavg()
    val rss = peakRssMb()
    // figures printed for people reading the log, not reported: peak RSS,
    // which follows when G1 chose to grow the heap more than what the
    // program holds, and each workload's own figures
    val named: Seq[(String, Double, String, Int)] = ("peak_rss_mb", rss, "MB", 1) +: (workload match {
      case "etl_rosbag" => Seq(
        ("etl_mb_s", median(plain.map(i => i.mb / iterS(i))), "MB/s", plain.size),
        ("etl_out_ratio", median(plain.map(_.facts("etl.out_ratio"))), "ratio", plain.size))
      case "container_rw" =>
        val reads = measured.filter(_.name.startsWith("read:")).map(_.seconds)
        val sinks = plain.flatMap(_.ops).filter(o => o.ok && o.name.startsWith("export:"))
        Seq(("scan_p50_s", median(reads), "s", reads.size),
          ("scan_p90_s", pct(reads, 0.9), "s", reads.size),
          ("sink_mb_s", median(plain.flatMap(i => Seq("bag", "mcap", "db3")
            .map(f => i.facts(s"$f.sink_mb_s")))), "MB/s", sinks.size))
      case _ =>
        val qs = latencyOps.map(_.seconds)
        Seq(("llm_run_s", median(plain.map(iterS)), "s", plain.size),
          ("llm_query_p50_s", median(qs), "s", qs.size),
          ("llm_query_p90_s", pct(qs, 0.9), "s", qs.size))
    })
    // Operation latency: each operation's median over the passes, then the
    // mean over the workload's operations. A median over the pooled
    // mixture of operation kinds jumps between kinds from run to run, and
    // a run has tens of operations, too few for a tail percentile (those
    // are printed, not reported).
    val perOp = latencyOps.groupBy(_.name).values.map(os => median(os.map(_.seconds))).toSeq
    val opMean = perOp.sum / math.max(1, perOp.size)
    val e2e: Seq[(String, Double, String, Int)] = Seq(
      ("setup_s", setupS, "s", FixtureReps),
      ("live_mb", live.getOrElse(0.0), "MB", 1),
      ("op_mean_s", opMean, "s", latencyOps.size),
      ("throughput_mb_s", median(plain.map(i => i.mb / iterS(i))), "MB/s", plain.size))
    val errorRate = failed.toDouble / attempted

    if (!trace) {
      (e2e ++ named :+ (("error_rate", errorRate, "ratio", attempted))).foreach { case (n, v, u, k) =>
        println(f"[perfbench] $workload%-12s $n%-18s ${num(v)}%s $u (n=$k)")
      }
    }
    val layer = trc.map(t => LayerMetrics(t, traced, plain, cores, gcS)).getOrElse(Nil)
    val traceOk = trc.forall(t => LayerMetrics.balanced(t))
    trc.foreach { t =>
      val f = root.resolve(s".bench_build/perfbench/trace-$workload-$seed.json")
      Files.write(f, t.toJson.getBytes("UTF-8"))
      System.err.println(s"[perfbench] ${t.clipped.size} spans written to $f")
    }
    val samples = (e2e ++ named).map { case (n, _, _, k) => s""""$n":$k""" }.mkString("{", ",", "}")
    println(s"""{"stamp":{"workload":"$workload","seed":$seed,"seconds":${num(seconds)},"trace":$trace,""" +
      s""""cpus":${LayerMetrics.machineCpus()},"nproc":$cores,"spark_cores":$cores,""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory >> 20},"loadavg_before":$load0,""" +
      s""""loadavg_after":$load1,"iterations":${plain.size + traced.size},""" +
      s""""error_rate":${num(errorRate)},"samples":$samples,""" +
      s""""pass_s":${plain.map(i => num(iterS(i))).mkString("[", ",", "]")}}}""")
    val metrics =
      if (trace) metricsJson(layer)
      else metricsJson(e2e.map { case (n, v, u, _) => (n, v, u) })
    val allFailed = failed + (if (traceOk) 0 else 1)
    println(s"""{"correct":${allFailed == 0},"attempted":$attempted,"failed":$allFailed,"metrics":$metrics}""")
    spark.stop()
  }

  /** Generate one workload's fixtures alone (no Spark) and digest them. */
  private def fixtureDigest(root: Path, workload: String, seed: Long, scale: Scale): String = {
    val dir = root.resolve(".bench_build/perfbench/fixtures").resolve(s"$workload-$seed")
    Workloads.deleteTree(dir)
    Files.createDirectories(dir)
    try workload match {
      case "etl_rosbag" => Fixtures.sha256(Fixtures.etlBag(dir, seed, scale.etlBytes).path)
      case "container_rw" =>
        val set = Fixtures.containers(dir, seed, scale.containerBytes)
        Seq("rosbag", "mcap", "db3").map(f => Fixtures.sha256(set.paths(f))).mkString("-")
      case other => throw new IllegalArgumentException(s"no generated fixtures for $other")
    } finally Workloads.deleteTree(dir)
  }

  private def printDigests(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ds = graft.queries.LlmQueries.all.keys.toSeq.sorted.flatMap { q =>
      val p = Paths.get(dir, q)
      if (!Files.exists(p)) None
      else Some(q -> Digest.of(spark.read.parquet(p.toString).collect()))
    }
    println(ds.map { case (q, d) => s"""  "$q": "$d"""" }.mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }
}

object Digests {
  /** The validated result digests: a flat JSON object of name -> hex. */
  def load(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"(q[0-9a-z_]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(p), "UTF-8"))
      .map(m => m.group(1) -> m.group(2)).toMap
}
