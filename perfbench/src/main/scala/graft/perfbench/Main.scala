package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One operation of a workload's closed loop. `run(timed, corrupt)`
  * performs the operation, wrapping its calls into the engine in `timed`,
  * checks the output and returns whether it was correct; with `corrupt`
  * set it checks a deliberately wrong copy of the output instead (the
  * self-test of the checker). Preparing inputs and checking outputs
  * against the model stay outside `timed`: they are the harness's work,
  * and checks that run Spark jobs also run under `Counters.excluding`.
  */
final case class Op(kind: String, group: String, run: (Timer, Boolean) => Boolean)

/** Wall time, process CPU and wall span of the timed sections of one op. */
final class Timer {
  var ms = 0.0
  var cpuNs = 0L
  var firstWallMs = 0L
  var lastWallMs = 0L
  def apply[T](body: => T): T = {
    if (firstWallMs == 0L) firstWallMs = System.currentTimeMillis()
    val c0 = Jvm.cpuNs()
    val t0 = System.nanoTime()
    try body finally {
      ms += (System.nanoTime() - t0) / 1e6
      cpuNs += Jvm.cpuNs() - c0
      lastWallMs = System.currentTimeMillis()
    }
  }
}

/** A seeded workload. `setup` is called several times (each on a fresh
  * session) and the last state it builds is the one the loop runs on.
  */
trait Workload {
  def setup(spark: SparkSession, round: Int): Unit
  def nextRound(): Seq[Op]
  /** Final correctness check after the timed window. */
  def finish(): Boolean
  /** Per-layer metrics only the workload can measure. */
  def layerMetrics(ops: Int): Map[String, Double] = Map.empty
  def info: Map[String, Any] = Map.empty
}

/** Sums and counts the workloads and the harness record by name. */
final class Stats {
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val counts = mutable.Map.empty[String, Long].withDefaultValue(0L)
  def add(name: String, v: Double): Unit = { sums(name) += v; counts(name) += 1 }
  def sum(name: String): Double = sums(name)
  def count(name: String): Long = counts(name)
  def mean(name: String): Double =
    if (counts(name) == 0) 0.0 else sums(name) / counts(name)
  def clear(): Unit = { sums.clear(); counts.clear(); digest = 0L }
  /** Folds an op's seeded parameters into a digest of the op stream. */
  def note(desc: String): Unit =
    digest = digest * 31 + scala.util.hashing.MurmurHash3.stringHash(desc)
  private var digest = 0L
  def streamDigest: String = f"$digest%016x"
}

final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, expected: String,
    injectWrongAt: Int, recordOut: Option[String], cpus: Option[Int])

object Main {
  val setupRounds = 3

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("data"), m("work"),
      m.getOrElse("expected", ""), m.getOrElse("inject-wrong-at", "-1").toInt,
      m.get("record"), m.get("cpus").map(_.toInt))
  }

  /** The engine bench's session: local[nproc], RawLocalFileSystem (no
    * checksum sidecars, no fsync), the 8192-entry codegen cache, UTC.
    */
  def session(a: Args, cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", graft.LocalScratch.sparkLocalDir())
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.hadoop.fs.file.impl",
        if (a.trace) classOf[CountingLocalFileSystem].getName
        else "org.apache.hadoop.fs.RawLocalFileSystem")
    if (a.trace)
      b.config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = a.cpus.getOrElse(Runtime.getRuntime.availableProcessors)
    val stats = new Stats
    val rng = new scala.util.Random(a.seed)
    if (a.recordOut.nonEmpty) { Record.run(a, cpus); return }
    val w: Workload = a.workload match {
      case "query_mix" => new QueryMix(a, rng, stats)
      case "table_lifecycle" => new TableLifecycle(a, rng, stats)
      case "corpus_admit" => new CorpusAdmit(a, rng, stats)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up: the first round starts the context; later rounds start a
    // fresh session on it and rebuild the workload's state from scratch
    var base: SparkSession = null
    val setupTimes = (0 until setupRounds).map { i =>
      val t0 = System.nanoTime()
      val s = if (base == null) { base = session(a, cpus); base } else base.newSession()
      w.setup(s, i)
      (System.nanoTime() - t0) / 1e9
    }
    // only the table warm-up time survives set-up; everything else the
    // workloads record is the timed window's
    val warmMs = stats.mean("tables.warm_ms")
    stats.clear()
    val jobs = if (a.trace) {
      val l = new JobListener
      base.sparkContext.addSparkListener(l)
      Counters.trace(base.sparkContext)
      Some(l)
    } else None

    // the timed window: one client, closed loop, whole rounds
    val c0 = Counters.snapshot()
    Jvm.resetHeapPeak()
    val lat = mutable.ArrayBuffer.empty[(String, String, Double)]
    var failed = 0
    var commitJobs = 0.0
    var driverGap = 0.0
    var busyMs = 0.0
    var cpuNs = 0L
    val t0 = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0) / 1e9
    while (elapsed < a.seconds) {
      for (op <- w.nextRound()) {
        val corrupt = lat.size == a.injectWrongAt
        val jobs0 = if (a.trace) Counters.snapshot().getOrElse("exec.jobs", 0.0) else 0.0
        jobs.foreach(_.intervals.clear())
        val timer = new Timer
        val ok = try op.run(timer, corrupt) catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] ${op.kind} failed: ${e.toString.take(400)}")
            false
        }
        val ms = timer.ms
        busyMs += ms
        cpuNs += timer.cpuNs
        if (!ok) { failed += 1; System.err.println(s"[perfbench] wrong result: ${op.kind}") }
        lat += ((op.kind, op.group, ms))
        jobs.foreach { l =>
          if (op.group == "commit")
            commitJobs += Counters.snapshot().getOrElse("exec.jobs", 0.0) - jobs0
          driverGap += ms - covered(l.intervals.toArray(Array.empty[(Long, Long)]),
            timer.firstWallMs, timer.lastWallMs)
        }
      }
    }
    val window = elapsed
    val heapPeak = Jvm.heapPeakMb()
    val c1 = Counters.snapshot()
    def d(k: String): Double = c1.getOrElse(k, 0.0) - c0.getOrElse(k, 0.0)
    val finalOk = try w.finish() catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] final check failed: ${e.toString.take(400)}"); false
    }
    if (!finalOk) failed += 1
    val n = lat.size
    val all = lat.map(_._3).toArray
    def group(g: String) = lat.filter(_._2 == g).map(_._3).toArray
    val e2e = Map(
      "setup_s" -> median(setupTimes.toArray),
      "ops_per_s" -> n / (busyMs / 1000),
      "cpu_ms_per_op" -> cpuNs / 1e6 / n,
      "peak_rss_mb" -> Jvm.peakRssMb())
    val commits = group("commit")
    val reads = group("read")
    // the report line carries each percentile only where at least ten
    // samples lie beyond it, with its sample count
    val percentiles = Map("latency" -> all, "commit" -> commits, "read" -> reads)
      .map { case (k, xs) => k -> Map("n" -> xs.length,
        "p50_ms" -> Option.when(xs.length >= 20)(pct(xs, 0.5)),
        "p90_ms" -> Option.when(xs.length >= 100)(pct(xs, 0.9))) }
    val workloadLevel = Map(
      "workload.rows_per_s" -> stats.sum("rows") / (busyMs / 1000),
      "workload.fail_frac" -> failed.toDouble / math.max(1, n),
      "workload.latency_p50_ms" -> pct(all, 0.5),
      "workload.commit_p50_ms" -> pct(commits, 0.5),
      "workload.read_p50_ms" -> pct(reads, 0.5),
      "workload.write_amp" -> ratio(d("fs.bytes_written"), stats.sum("plain_written_bytes")),
      "workload.space_amp" -> ratio(stats.sum("live_bytes"), stats.sum("plain_final_bytes")))
    val perOp = Seq("sources.stats_job_ms", "sources.stage_job_ms",
      "sources.dv_count_job_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "catalyst.queries", "exec.jobs", "exec.tasks",
      "exec.task_cpu_ms", "exec.task_run_ms", "exec.gc_ms",
      "exec.shuffle_write_bytes", "exec.shuffle_fetch_wait_ms", "exec.spill_bytes",
      "fs.write_ops", "fs.read_ops", "fs.list_ops", "fs.bytes_written", "fs.bytes_read",
      "codegen.compiles", "codegen.compile_ms", "jvm.gc_ms")
      .map(k => k -> d(k) / n).toMap
    val layer = perOp ++ w.layerMetrics(n) ++ Map(
      "sources.jobs_per_commit" -> (if (commits.isEmpty) 0.0 else commitJobs / commits.length),
      "exec.driver_gap_ms" -> driverGap / n,
      "jvm.heap_used_peak_mb" -> heapPeak,
      "tables.warm_ms" -> warmMs) ++ workloadLevel
    val env = Env.record(a, cpus, base) ++ w.info ++ Map(
      "setup_rounds_s" -> setupTimes, "window_s" -> window, "busy_s" -> busyMs / 1000,
      "ops" -> n,
      "op_stream_digest" -> stats.streamDigest,
      "ops_by_kind" -> lat.groupBy(_._1).map { case (k, v) => k -> v.size },
      "ms_by_kind" -> lat.groupBy(_._1).map { case (k, v) =>
        k -> v.map(x => math.round(x._3).toInt) })
    val metrics = if (a.trace) Units.perLayer(layer) else Units.endToEnd(e2e)
    println("perfbench-report " + Json.of(Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "end_to_end" -> e2e, "percentiles" -> percentiles,
      "workload_level" -> workloadLevel, "env" -> env)))
    println(Json.of(Map(
      "correct" -> (failed == 0), "attempted" -> n, "failed" -> failed,
      "metrics" -> metrics)))
    base.stop()
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(iv: Array[(Long, Long)], lo: Long, hi: Long): Double = {
    val clipped = iv.map { case (s, e) => (s.max(lo), e.min(hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = curE.max(e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Linear-interpolated percentile (numpy's default); 0 when empty. */
  def pct(xs: Array[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Array[Double]): Double = pct(xs, 0.5)

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0
}
