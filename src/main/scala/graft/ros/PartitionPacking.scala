package graft.ros

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

/** Chunk-to-partition BIN-PACKING for the container sources.
  *
  * Without packing, one Spark task per container chunk: recorders
  * write small chunks (rosbag1's default chunk threshold is 768 KB;
  * mcap writers commonly 1-4 MB), so a 100 TB fleet plans tens of
  * MILLIONS of input partitions — the driver serializes each one
  * (with its per-file schema/channel maps), the scheduler launches
  * that many tasks, and per-task overhead (open + seek + codec init,
  * ~1 ms) dominates the scan. Measured at the 137 MB TypedReadBench
  * fixture (2,040 × 67 KB chunks): the typed scan spends most of its
  * wall-clock on task turnover, not decode.
  *
  * The policy is Spark's own file-source split sizing
  * (`FilePartition.maxSplitBytes`): pack CONSECUTIVE chunks — the
  * planners emit them file-ordered and time-ordered within a file, so
  * packs stay contiguous on disk and tight in time — until
  *
  *   min(spark.sql.files.maxPartitionBytes,
  *       max(spark.sql.files.openCostInBytes, totalBytes / parallelism))
  *
  * of UNCOMPRESSED chunk bytes (+ one openCost per chunk, charging
  * the seek + codec init like Spark charges file opens). Uncompressed
  * bytes, not on-disk, because decode work and batch memory scale
  * with them. Tests that assert per-chunk pruning granularity set the
  * two confs to 1/0.
  *
  * A pack of ONE stays the bare per-chunk partition (the common case
  * for well-chunked archives and all streaming micro-batches — those
  * plan their own per-slice partitions and never pack); a larger pack
  * rides [[PackedPartition]] and a concatenating reader
  * ([[ContainerSource.Readers]]), so the per-chunk readers stay
  * untouched. Java
  * serialization writes the per-file schema/channel maps ONCE per
  * packed partition (shared references within one object graph), so
  * packing also removes the per-chunk duplication of file metadata.
  */
object PartitionPacking {

  /** The per-partition byte budget — Spark's formula with one
    * substitution: the per-item open charge is
    * `spark.graft.chunkOpenCostBytes` (default 128 KB), NOT
    * `spark.sql.files.openCostInBytes`. Spark's 4 MB default models a
    * FILE open (a name-node round trip); a chunk read is a seek + one
    * codec init inside an already-indexed file, and charging it 4 MB
    * degenerates the budget to ~one chunk per task for small-ish
    * corpora — exactly the shape packing exists to fix.
    * `spark.sql.files.maxPartitionBytes` and the default parallelism
    * are honored as-is (defaults when no session is active: 128 MB,
    * parallelism 8).
    */
  def budgetBytes(totalBytes: Long): (Long, Long) = {
    // only the SESSION lookup is guarded (executors and sessionless
    // tools fall back to defaults); a malformed user conf fails LOUDLY
    // — swallowing it would silently change partitioning shape
    val session =
      try Some(SparkSession.active) catch { case _: Exception => None }
    val (maxPartition, openCost, parallelism) = session match {
      case Some(s) =>
        val raw = s.conf.get("spark.graft.chunkOpenCostBytes",
          (128L << 10).toString)
        val oc = try raw.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.chunkOpenCostBytes must be a byte count, got '$raw'")
        }
        require(oc >= 0,
          s"spark.graft.chunkOpenCostBytes must be non-negative, got $oc")
        (s.sessionState.conf.filesMaxPartitionBytes, oc,
          s.sparkContext.defaultParallelism.toLong.max(1L))
      case None => (128L << 20, 128L << 10, 8L)
    }
    val bytesPerCore = totalBytes / parallelism + openCost
    (math.min(maxPartition, math.max(openCost, bytesPerCore)), openCost)
  }

  /** Greedy consecutive packing of `(partition, uncompressedBytes)`
    * under [[budgetBytes]]. Order is preserved; every input appears in
    * exactly one pack; a single oversized chunk gets its own pack.
    */
  def pack[T](parts: Seq[(T, Long)]): Seq[Seq[T]] = {
    if (parts.isEmpty) return Seq.empty
    val (budget, openCost) = budgetBytes(parts.iterator.map(_._2).sum)
    val packs = Seq.newBuilder[Seq[T]]
    var cur = Seq.newBuilder[T]
    var curBytes = 0L
    var curN = 0
    parts.foreach { case (p, bytes) =>
      val cost = bytes + openCost
      if (curN > 0 && curBytes + cost > budget) {
        packs += cur.result(); cur = Seq.newBuilder[T]; curBytes = 0L; curN = 0
      }
      cur += p; curBytes += cost; curN += 1
    }
    packs += cur.result()
    packs.result()
  }

  /** Pack and wrap: singletons stay bare, larger packs ride
    * [[PackedPartition]].
    */
  def packPartitions(parts: Seq[(InputPartition, Long)]): Array[InputPartition] =
    pack(parts).map {
      case Seq(one) => one
      case many => PackedPartition(many.toArray)
    }.toArray
}

/** Several consecutive per-chunk partitions served by ONE task. */
final case class PackedPartition(parts: Array[InputPartition])
    extends InputPartition

/** Sequential concatenation of per-chunk readers — readers are created
  * LAZILY (one open chunk at a time) and closed as soon as they drain,
  * so a packed partition holds at most one chunk's decode state.
  *
  * Each sub-reader performs its own ranged read (open + seek + read
  * per chunk). That is deliberate: packs are disk-contiguous, and on
  * object stores a ranged GET per chunk is the native access pattern
  * (what Spark's parquet reader issues per column chunk); a shared
  * long-lived stream would add fd-lifetime risk for a metadata round
  * trip saved only on hierarchical filesystems.
  */
final class ConcatPartitionReader[T](parts: Array[InputPartition],
    mk: InputPartition => PartitionReader[T]) extends PartitionReader[T] {
  private var idx = 0
  private var cur: PartitionReader[T] = _

  override def next(): Boolean = {
    while (true) {
      if (cur == null) {
        if (idx >= parts.length) return false
        cur = mk(parts(idx)); idx += 1
      }
      if (cur.next()) return true
      cur.close(); cur = null
    }
    false // unreachable
  }

  override def get(): T = cur.get()

  override def close(): Unit = if (cur != null) { cur.close(); cur = null }
}
