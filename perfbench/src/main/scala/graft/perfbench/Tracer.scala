package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Process-wide counters the traced run's listeners add into, plus the
  * process-wide readings (file bytes, code generation, GC) the per-layer
  * metrics take deltas of. Harness work inside the timed window, such as
  * a result check, runs under `excluding`, so that its jobs, tasks,
  * queries, file operations, bytes, compilations and GC stay out of the
  * figures.
  */
object Counters {
  private val m = new ConcurrentHashMap[String, DoubleAdder]()
  private val excluded = new ConcurrentHashMap[String, DoubleAdder]()
  @volatile private var paused = false
  @volatile private var sc: Option[org.apache.spark.SparkContext] = None

  /** Starts counting: the traced run only. */
  def trace(context: org.apache.spark.SparkContext): Unit = sc = Some(context)
  def counting: Boolean = !paused

  def add(k: String, v: Double): Unit =
    if (!paused) m.computeIfAbsent(k, _ => new DoubleAdder).add(v)

  private def readings(): Map[String, Double] = {
    val fs = Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
    def fsLong(k: String) = fs.flatMap(s => Option(s.getLong(k))).map(_.toDouble).getOrElse(0.0)
    Map(
      "fs.bytes_written" -> fsLong("bytesWritten"),
      "fs.bytes_read" -> fsLong("bytesRead"),
      "codegen.compiles" -> org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" ->
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6,
      "jvm.gc_ms" -> Jvm.gcMs())
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(): Unit = sc.foreach(org.apache.spark.PerfbenchAccess.drainListeners)

  def snapshot(): Map[String, Double] = {
    drain()
    val ex = excluded.asScala.map { case (k, a) => k -> a.sum }
    m.asScala.iterator.map { case (k, a) => k -> a.sum }.toMap ++
      readings().map { case (k, v) => k -> (v - ex.getOrElse(k, 0.0)) }
  }

  /** Runs harness work without counting it (traced run; a plain call
    * otherwise).
    */
  def excluding[T](body: => T): T =
    if (sc.isEmpty) body
    else {
      drain()
      val r0 = readings()
      paused = true
      try body finally {
        drain()
        paused = false
        readings().foreach { case (k, v) =>
          excluded.computeIfAbsent(k, _ => new DoubleAdder).add(v - r0(k))
        }
      }
    }
}

/** Jobs, tasks and job wall intervals, attributed by job description:
  * the engine labels its snapshot-table jobs `graft: stage …`,
  * `graft: stats pass …` and `graft: count deletion vector`.
  */
final class JobListener extends SparkListener {
  private val starts = new ConcurrentHashMap[Int, (Long, String)]()
  /** (start, end) epoch-ms of every finished job, drained per op. */
  val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
    starts.put(e.jobId, (e.time, desc))
    Counters.add("exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (t0, desc) =>
      val ms = (e.time - t0).toDouble
      if (Counters.counting) intervals.add((t0, e.time))
      if (desc.startsWith("graft: stats")) Counters.add("sources.stats_job_ms", ms)
      else if (desc.startsWith("graft: stage")) Counters.add("sources.stage_job_ms", ms)
      else if (desc.startsWith("graft: count deletion vector"))
        Counters.add("sources.dv_count_job_ms", ms)
      if (desc.startsWith("graft:")) Counters.add("sources.graft_jobs", 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Counters.add("exec.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      Counters.add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      Counters.add("exec.task_run_ms", m.executorRunTime.toDouble)
      Counters.add("exec.gc_ms", m.jvmGCTime.toDouble)
      Counters.add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Counters.add("exec.shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      Counters.add("exec.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }
}

/** Catalyst phase times of every query an action runs, from its
  * `QueryExecution.tracker`. Registered through the static
  * `spark.sql.queryExecutionListeners` conf so that every session of the
  * context reports, including the engine's own sibling sessions.
  */
final class CatalystListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    CatalystListener.record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    CatalystListener.record(qe)
}

object CatalystListener {
  def record(qe: QueryExecution): Unit = {
    Counters.add("catalyst.queries", 1)
    qe.tracker.phases.foreach { case (phase, s) =>
      Counters.add(s"catalyst.${phase}_ms", s.durationMs.toDouble)
    }
  }
}

/** `RawLocalFileSystem` (the flush policy the engine's bench uses) that
  * also counts namespace operations; installed for `file:` in the traced
  * run only. Bytes come from Hadoop's own per-scheme statistics.
  */
final class CountingLocalFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable

  override def listStatus(f: Path): Array[FileStatus] = {
    Counters.add("fs.list_ops", 1); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    Counters.add("fs.read_ops", 1); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Counters.add("fs.write_ops", 1)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    Counters.add("fs.write_ops", 1)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    Counters.add("fs.write_ops", 1); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    Counters.add("fs.write_ops", 1); super.delete(p, recursive)
  }
  override def mkdirs(p: Path, permission: FsPermission): Boolean = {
    Counters.add("fs.write_ops", 1); super.mkdirs(p, permission)
  }
}

/** JVM-level readings shared by the traced and untraced runs. */
object Jvm {
  import java.lang.management.ManagementFactory

  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => Some(b)
    case _ => None
  }
  def cpuNs(): Long = os.map(_.getProcessCpuTime).getOrElse(0L)

  def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.canRead) return heapPeakMb()
    val src = scala.io.Source.fromFile(f)
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(heapPeakMb())
    finally src.close()
  }

  def flags(): Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq
      .filterNot(_.startsWith("--add-opens"))
}
