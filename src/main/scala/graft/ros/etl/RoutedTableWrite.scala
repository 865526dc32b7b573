package graft.ros.etl

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.{JobExecutionStatus, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Several Parquet tables written by ONE Spark job under ONE commit —
  * the reference's route-by-type writer (FlattenedRosWriter.cpp:273-289:
  * one pass, each message handed to its type's table writer) at
  * cluster parallelism. Each task routes its rows into lazily opened
  * per-table writers (Spark's own Parquet `OutputWriterFactory`, one
  * Hadoop conf per table schema, so footers carry the same schema and
  * row metadata as a DataFrame write), staged flat in `<staging>/<job>/`
  * as `<attempt>_<table>_<part file>`.
  * The driver commits once the job succeeded: every listed part file
  * renames into its table dir, then each table gets its `_SUCCESS` and
  * its cached reads are refreshed. A failed job leaves every table dir
  * as it was; the staging dir is removed either way. [[RoutedEtl]]
  * writes every container's ETL tables (rosbag, MCAP, db3) through it.
  */
private[ros] object RoutedTableWrite {
  /** One output table: its directory and the rows' schema. */
  final case class Table(dir: String, schema: StructType)

  private[etl] type Writer = (OutputWriterFactory, SerializableConfiguration)

  /** Run `route` over every partition of `rows` (it hands each output
    * row to its table with `emit(table, row)`, which writes it before
    * returning) and commit. Returns each task's `route` result. Without
    * `append` an existing table dir fails the write before any task
    * runs; a table that receives no row and does not exist yet lands as
    * one empty part file, so it still reads with its schema.
    */
  def run[S](spark: SparkSession, rows: RDD[InternalRow], tables: Seq[Table],
      staging: String, append: Boolean)(
      route: (Iterator[InternalRow], (Int, InternalRow) => Unit) => S): Seq[S] = {
    val (fs, writers, jobDir) = prepare(spark, tables, staging, append)
    val schemas = tables.map(_.schema)
    val jobId = jobDir.getName
    // one copy of the per-table confs per executor, not per task
    val shipped = spark.sparkContext.broadcast(writers)
    try {
      val sc = spark.sparkContext
      val results = new Array[(Seq[(Int, String)], S)](rows.partitions.length)
      val job = sc.submitJob(rows, (it: Iterator[InternalRow]) => {
          val ctx = TaskContext.get()
          val w = new TaskWriters(shipped.value, schemas, jobId, jobDir,
            ctx.partitionId(), ctx.stageId(), ctx.attemptNumber())
          try { val s = route(it, w.write); (w.commit(), s) }
          catch { case t: Throwable => w.abort(); throw t }
        }, rows.partitions.indices, (i: Int, r: (Seq[(Int, String)], S)) => results(i) = r, ())
      try scala.concurrent.Await.result(job, scala.concurrent.duration.Duration.Inf)
      catch { case t: Throwable =>
        // the failed job's other tasks are killed asynchronously: let
        // them end (and abort) before the staging dir goes, or one could
        // recreate it after the cleanup
        awaitTasksEnded(sc, job.jobIds)
        throw t
      }
      val files = results.toSeq.flatMap(_._1)
      val landed = files.map(_._1).toSet
      val driver = new TaskWriters(writers, schemas, jobId, jobDir, 0, 0, -1)
      tables.indices.filter(t => !landed(t) && (!append || !fs.exists(new Path(tables(t).dir))))
        .foreach(driver.open)
      commit(spark, fs, tables, files ++ driver.commit())
      results.toSeq.map(_._2)
    } finally {
      fs.delete(new Path(staging), true)
      shipped.destroy()
    }
  }

  /** Wait (at most a minute) until the jobs have ended and none of
    * their stages has a running task, as the status store sees it.
    */
  private def awaitTasksEnded(sc: SparkContext, jobIds: Seq[Int]): Unit = {
    val st = sc.statusTracker
    def running = jobIds.exists(j => st.getJobInfo(j).forall(i =>
      i.status == JobExecutionStatus.RUNNING ||
        i.stageIds.exists(st.getStageInfo(_).exists(_.numActiveTasks > 0))))
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (running && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Write `rows` as one part file of `table` from the driver — no
    * Spark job — and commit it like [[run]]'s tables: for driver-side
    * tiny tables.
    */
  def runLocal(spark: SparkSession, rows: Seq[InternalRow], table: Table,
      staging: String, append: Boolean): Unit = {
    val (fs, writers, jobDir) = prepare(spark, Seq(table), staging, append)
    val w = new TaskWriters(writers, Seq(table.schema), jobDir.getName, jobDir, 0, 0, -1)
    try {
      w.open(0)
      rows.foreach(w.write(0, _))
      commit(spark, fs, Seq(table), w.commit())
    } catch { case t: Throwable => w.abort(); throw t }
    finally { fs.delete(new Path(staging), true); () }
  }

  /** The tables' writer factories and confs, and a fresh job dir under
    * `staging` (a hard crash skips the cleanup; its debris must not
    * survive into this commit). Every conf, the driver's included, puts
    * `file:` paths on [[graft.io.LocalFs]].
    */
  private[etl] def prepare(spark: SparkSession, tables: Seq[Table], staging: String,
      append: Boolean): (FileSystem, Seq[Writer], Path) = {
    val options = Map("compression" -> "snappy")
    val baseConf = graft.io.LocalFs.install(spark.sessionState.newHadoopConfWithOptions(options))
    val fs = new Path(staging).getFileSystem(baseConf)
    if (!append) tables.foreach { t =>
      require(!fs.exists(new Path(t.dir)), s"${t.dir} already exists")
    }
    val writers = tables.map { t =>
      val job = Job.getInstance(baseConf)
      val factory = new ParquetFileFormat().prepareWrite(spark, job, options, t.schema)
      (factory, new SerializableConfiguration(job.getConfiguration))
    }
    fs.delete(new Path(staging), true)
    (fs, writers, new Path(staging, java.util.UUID.randomUUID().toString))
  }

  /** Move each (table, file) into its table dir; then every table gets
    * its `_SUCCESS` and, as after a DataFrame write, cached reads of it
    * see the new files.
    */
  private def commit(spark: SparkSession, fs: FileSystem, tables: Seq[Table],
      files: Seq[(Int, String)]): Unit = {
    files.map(_._1).distinct.foreach(t => fs.mkdirs(new Path(tables(t).dir)))
    files.foreach { case (t, f) =>
      val dir = new Path(tables(t).dir)
      val src = new Path(f)
      require(fs.rename(src, new Path(dir, src.getName.split("_", 3)(2))),
        s"table commit: rename $src into $dir failed")
    }
    tables.foreach { t =>
      fs.create(new Path(t.dir, "_SUCCESS"), true).close()
      spark.catalog.refreshByPath(t.dir)
    }
  }

  /** One task attempt's open writers, at most one file per table
    * (attempt -1: the driver's).
    */
  private final class TaskWriters(writers: Seq[Writer], schemas: Seq[StructType],
      jobId: String, dir: Path, partition: Int, stage: Int, attempt: Int) {
    private val live = new Array[OutputWriter](writers.size)
    private val attemptId = new TaskAttemptID(
      new TaskID(new JobID(jobId.take(8), stage), TaskType.MAP, partition), attempt.max(0))

    def open(t: Int): OutputWriter = {
      if (live(t) == null) {
        val (factory, conf) = writers(t)
        val ctx = new TaskAttemptContextImpl(conf.value, attemptId)
        val name = f"part-$partition%05d-$jobId-c000" + factory.getFileExtension(ctx)
        live(t) = factory.newInstance(
          new Path(dir, s"p${partition}a${attempt}_${t}_$name").toString, schemas(t), ctx)
      }
      live(t)
    }

    def write(t: Int, row: InternalRow): Unit = open(t).write(row)

    /** Close every writer; the (table, file) pairs this task wrote. */
    def commit(): Seq[(Int, String)] =
      live.indices.filter(live(_) != null).map { t => live(t).close(); (t, live(t).path()) }

    def abort(): Unit = {
      val fs = dir.getFileSystem(writers.head._2.value)
      live.filter(_ != null).foreach { w =>
        try w.close() catch { case _: Throwable => () }
        fs.delete(new Path(w.path()), false)
      }
    }
  }
}
