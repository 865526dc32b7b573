package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One traced interval. Times are epoch nanoseconds; Spark events carry
  * epoch milliseconds and are scaled up. `parent` is -1 for a root.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    start: Long, end: Long, kind: String)

/** Spans and counters for one run, recorded only from the benchmark's
  * side: `span` wraps the benchmark's own calls into a layer, and the
  * listener turns each Spark job and stage into a child span of the
  * benchmark span that caused it. Nothing inside the program is
  * instrumented. When `enabled` is false every call is a plain call.
  */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  def now(): Long = epoch0 + (System.nanoTime() - nano0)

  private val benchSpans = mutable.ArrayBuffer[Span]()
  private var open: List[(Int, String, String, Long)] = Nil
  private var nextId = 0

  def span[T](name: String, layer: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = benchSpans.synchronized { nextId += 1; nextId }
      val parent = open.headOption.map(_._1).getOrElse(-1)
      val t0 = now()
      open = (id, name, layer, t0) :: open
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try f
      finally {
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
        open = open.tail
        benchSpans.synchronized {
          benchSpans += Span(id, parent, name, layer, t0, now(), "bench")
        }
      }
    }

  // ---- listener side: raw events only, resolved after the run ----
  final case class JobRec(id: Int, start: Long, var end: Long, stages: Seq[Int],
      benchSpan: Option[Int], group: String, desc: String, site: String,
      execId: Option[Long], var ok: Boolean = true)
  final case class StageRec(id: Int, name: String, start: Long, end: Long,
      shuffleWrite: Long, spill: Long)
  final case class TaskRec(start: Long, end: Long, ok: Boolean)

  private val jobs = mutable.ArrayBuffer[JobRec]()
  private val stages = mutable.ArrayBuffer[StageRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  /** SQL execution id -> (its action's call stack, the path it writes). */
  private val execs = mutable.Map[Long, (String, String)]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
      jobs.synchronized {
        jobs += JobRec(e.jobId, e.time * 1000000L, -1L, e.stageIds,
          Option(prop(Tracer.SpanProp)).filter(_.nonEmpty).map(_.toInt),
          prop("spark.jobGroup.id"), prop("spark.job.description"),
          prop("callSite.long"),
          Option(prop("spark.sql.execution.id")).filter(_.nonEmpty).map(_.toLong))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.find(_.id == e.jobId).foreach { j =>
        j.end = e.time * 1000000L
        j.ok = e.jobResult == JobSucceeded
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages.synchronized {
        stages += StageRec(i.stageId, i.name,
          i.submissionTime.getOrElse(0L) * 1000000L,
          i.completionTime.getOrElse(0L) * 1000000L,
          m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
          m.map(_.diskBytesSpilled).getOrElse(0L))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.synchronized {
      tasks += TaskRec(e.taskInfo.launchTime * 1000000L,
        e.taskInfo.finishTime * 1000000L, e.reason == org.apache.spark.Success)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.synchronized {
          execs(s.executionId) = (s.details, Tracer.writeTarget(s.physicalPlanDescription))
        }
      case _ =>
    }
  }

  /** Classify a job into (layer, name). The layer is the package of the
    * first program frame in the call stack Spark recorded for the job;
    * frames in the benchmark itself defer to the enclosing bench span.
    */
  private def classify(j: JobRec, parentLayer: String): (String, String) = {
    val (execSite, out) = j.execId.flatMap(id => execs.synchronized(execs.get(id)))
      .getOrElse(("", ""))
    // jobs Spark submits from its own pools (adaptive stages, broadcasts)
    // carry no call site; their SQL execution does
    val site = if (j.site.trim.nonEmpty) j.site else execSite
    // Spark puts its own last frame first; the program's frame follows
    val frames = site.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
    val frame = frames.find(f => f.startsWith("graft.") || f.startsWith("perfbench."))
      .orElse(frames.headOption).getOrElse("")
    val cls = frame.takeWhile(_ != '(').split('.').dropRight(1).mkString(".")
    val layer = Tracer.layerOf(cls).getOrElse(parentLayer)
    val file = frame.split('(').lastOption.map(_.stripSuffix(")"))
      .map(_.replaceAll(":\\d+$", "")).getOrElse("?")
    val method = cls.split('.').lastOption.getOrElse("").stripSuffix("$")
    val name =
      if (j.group.startsWith("graft-etl-")) s"etl.type_table:${j.desc.stripPrefix("per-type ")}"
      else if (layer == "graft.ros.etl" && out.nonEmpty) Tracer.etlPhase(out)
      else if (cls.nonEmpty) s"job:$method@$file"
      else "job"
    (if (name.startsWith("etl.")) "graft.ros.etl" else layer, name)
  }

  /** Resolve the recorded events into one span tree and the Spark
    * runtime counters for the window [t0, t1].
    */
  def resolve(t0: Long, t1: Long): Trace = {
    val bench = benchSpans.synchronized(benchSpans.toVector)
    val benchById = bench.map(s => s.id -> s).toMap
    // the deepest bench span open at `t`; used for jobs submitted from
    // threads that do not carry the span property (e.g. ETL futures)
    def openAt(t: Long): Option[Span] =
      bench.filter(s => s.start <= t && t <= s.end)
        .sortBy(s => (depth(s.id, benchById), s.start)).lastOption
    val js = jobs.synchronized(jobs.toVector).filter(j => j.start >= t0 && j.start <= t1)
    var id = bench.map(_.id).foldLeft(0)(math.max) + 1
    val jobSpans = js.map { j =>
      val parent = j.benchSpan.flatMap(benchById.get)
        .filter(s => s.start <= j.start + 1000000L && j.start <= s.end)
        .orElse(openAt(j.start))
      val (layer, name) = classify(j, parent.map(_.layer).getOrElse("bench"))
      id += 1
      (j, Span(id, parent.map(_.id).getOrElse(-1), name, layer, j.start,
        if (j.end < 0) t1 else j.end, "job"))
    }
    val stageOwner = mutable.Map[Int, Span]()
    jobSpans.foreach { case (j, s) => j.stages.foreach(st => stageOwner.getOrElseUpdate(st, s)) }
    val st = stages.synchronized(stages.toVector).filter(s => stageOwner.contains(s.id))
    val stageSpans = st.map { s =>
      id += 1
      val owner = stageOwner(s.id)
      Span(id, owner.id, s"stage:${s.name.replaceAll(":\\d+$", "")}", owner.layer,
        s.start, s.end, "stage")
    }
    val ts = tasks.synchronized(tasks.toVector).filter(t => t.end >= t0 && t.start <= t1)
    Trace(t0, t1, bench.filter(s => s.end >= t0 && s.start <= t1) ++
      jobSpans.map(_._2) ++ stageSpans, js, st, ts)
  }

  private def depth(id: Int, byId: Map[Int, Span]): Int = {
    var d = 0; var cur = byId.get(id)
    while (cur.exists(_.parent >= 0)) { d += 1; cur = byId.get(cur.get.parent) }
    d
  }

  final case class Trace(t0: Long, t1: Long, spans: Vector[Span],
      jobs: Vector[JobRec], stages: Vector[StageRec], tasks: Vector[TaskRec]) {
    lazy val byId: Map[Int, Span] = spans.map(s => s.id -> s).toMap

    /** Children clipped into their parents; spans left empty drop out. */
    lazy val clipped: Vector[Span] = {
      val out = mutable.Map[Int, Span]()
      def clip(s: Span): Option[Span] = out.get(s.id).orElse {
        val lo0 = math.max(s.start, t0); val hi0 = math.min(s.end, t1)
        val bounded = if (s.parent < 0 || !byId.contains(s.parent)) Some((lo0, hi0))
          else clip(byId(s.parent)).map(p => (math.max(lo0, p.start), math.min(hi0, p.end)))
        bounded.filter { case (lo, hi) => hi > lo }.map { case (lo, hi) =>
          val c = s.copy(start = lo, end = hi,
            parent = if (byId.contains(s.parent)) s.parent else -1)
          out(s.id) = c; c
        }
      }
      spans.flatMap(clip)
    }

    /** Exclusive time per span: each instant of the window goes to the
      * innermost spans open at it (split evenly when several siblings
      * overlap), or to `unattributed` when none is open. The parts add
      * up to the window exactly.
      */
    lazy val (selfTime, unattributed): (Map[Int, Double], Double) = {
      val cs = clipped
      val ids = cs.map(_.id).toSet
      val parentOf = cs.map(s => s.id -> (if (ids(s.parent)) s.parent else -1)).toMap
      val depthOf = mutable.Map[Int, Int]()
      def d(i: Int): Int = depthOf.getOrElseUpdate(i,
        if (parentOf(i) < 0) 0 else d(parentOf(i)) + 1)
      // (time, 0 = end before 1 = start, order key, span id)
      val evs = cs.flatMap(s => Seq((s.start, 1, d(s.id), s.id), (s.end, 0, -d(s.id), s.id)))
        .sortBy(e => (e._1, e._2, e._3))
      val activeKids = mutable.Map[Int, Int]().withDefaultValue(0)
      val leaves = mutable.LinkedHashSet[Int]()
      val active = mutable.Set[Int]()
      val self = mutable.Map[Int, Double]().withDefaultValue(0.0)
      var un = 0.0
      var last = t0
      evs.foreach { case (t, kind, _, sid) =>
        if (t > last) {
          val dt = (t - last) / 1e9
          if (leaves.isEmpty) un += dt
          else { val share = dt / leaves.size; leaves.foreach(l => self(l) += share) }
          last = t
        }
        val p = parentOf(sid)
        if (kind == 1) {
          active += sid; leaves += sid
          if (p >= 0 && active(p)) { if (activeKids(p) == 0) leaves -= p; activeKids(p) += 1 }
        } else {
          active -= sid; leaves -= sid
          if (p >= 0 && active(p)) { activeKids(p) -= 1; if (activeKids(p) == 0) leaves += p }
        }
      }
      if (t1 > last) un += (t1 - last) / 1e9
      (self.toMap, un)
    }

    def wallSeconds: Double = (t1 - t0) / 1e9

    def selfByLayer: Map[String, Double] =
      clipped.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => selfTime.getOrElse(s.id, 0.0)).sum }

    def toJson: String = {
      def esc(s: String) = s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      }
      clipped.map { s =>
        f"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}","layer":"${s.layer}","kind":"${s.kind}","start_ns":${s.start - t0},"end_ns":${s.end - t0},"self_s":${selfTime.getOrElse(s.id, 0.0)}%.9f}"""
      }.mkString("[\n", ",\n", "\n]\n")
    }
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Program packages the benchmark names as layers. */
  val Layers: Seq[String] = Seq("graft.ros.bag", "graft.ros.mcap", "graft.ros.db3",
    "graft.ros.etl", "graft.operators", "graft.queries")

  def layerOf(cls: String): Option[String] =
    if (cls.startsWith("perfbench") || cls.isEmpty) None
    else Layers.find(l => cls == l || cls.startsWith(l + "."))
      .orElse(if (cls.startsWith("graft.")) Some("graft") else None)

  /** The output directory a write plan targets, or "" for reads. */
  def writeTarget(plan: String): String =
    "(?s)\\(\\d+\\) Execute InsertIntoHadoopFsRelationCommand\\s*\\n.*?Arguments: ([^,\\s]+)".r
      .findFirstMatchIn(plan).map(_.group(1)).getOrElse("")

  /** BagEtl's phases, named by the table each write lands. */
  def etlPhase(out: String): String = {
    val leaf = out.split('/').lastOption.getOrElse("")
    if (leaf == "_spine") "etl.spine"
    else if (leaf == "_seqno") "etl.seqno"
    else if (leaf == "Messages.parquet") "etl.messages"
    else s"etl.write:$leaf"
  }

  /** Seconds covered by the union of the given intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L; var curLo = Long.MinValue; var curHi = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (lo, hi) =>
      if (lo > curHi) { if (curHi > curLo) total += curHi - curLo; curLo = lo; curHi = hi }
      else curHi = math.max(curHi, hi)
    }
    if (curHi > curLo) total += curHi - curLo
    total / 1e9
  }
}
