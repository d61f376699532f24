package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Metric names and units; run.py checks them against BENCHMARK.json. */
object Units {
  val endToEndUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "ops_per_s" -> "1/s", "cpu_ms_per_op" -> "ms",
    "peak_rss_mb" -> "MB")

  private val commitVerbs = Seq("append", "update_where", "delete_where",
    "delete_where_vector", "update_where_vector", "merge_into", "compact",
    "expire_snapshots")
  private val readKinds = Seq("current", "range", "version", "changes")

  val perLayerUnits: Seq[(String, String)] =
    Seq("sources.stats_job_ms" -> "ms", "sources.stage_job_ms" -> "ms",
      "sources.dv_count_job_ms" -> "ms", "sources.jobs_per_commit" -> "count") ++
    commitVerbs.map(v => s"sources.commit_ms.$v" -> "ms") ++
    readKinds.map(k => s"sources.read_ms.$k" -> "ms") ++
    Seq("sources.manifest_load_ms" -> "ms", "sources.skip_ratio" -> "ratio",
      "sources.files_added_per_commit" -> "count",
      "sources.bytes_added_per_commit" -> "bytes", "sources.live_files" -> "count",
      "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
      "catalyst.planning_ms" -> "ms", "catalyst.queries" -> "count",
      "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms",
      "operators.build_ms" -> "ms", "operators.exec_ms" -> "ms",
      "exec.jobs" -> "count", "exec.tasks" -> "count", "exec.task_cpu_ms" -> "ms",
      "exec.task_run_ms" -> "ms", "exec.gc_ms" -> "ms",
      "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_fetch_wait_ms" -> "ms",
      "exec.spill_bytes" -> "bytes", "exec.driver_gap_ms" -> "ms",
      "pipeline.admit_ms" -> "ms", "pipeline.takedown_ms" -> "ms",
      "pipeline.reconcile_ms" -> "ms", "pipeline.admit_ratio" -> "ratio",
      "tables.warm_ms" -> "ms",
      "fs.bytes_written" -> "bytes", "fs.bytes_read" -> "bytes",
      "fs.write_ops" -> "count", "fs.read_ops" -> "count", "fs.list_ops" -> "count",
      "jvm.gc_ms" -> "ms", "jvm.heap_used_peak_mb" -> "MB",
      "workload.rows_per_s" -> "rows/s", "workload.fail_frac" -> "ratio",
      "workload.latency_p50_ms" -> "ms",
      "workload.commit_p50_ms" -> "ms", "workload.read_p50_ms" -> "ms",
      "workload.write_amp" -> "ratio", "workload.space_amp" -> "ratio")

  private def tag(units: Seq[(String, String)], vals: Map[String, Double]) =
    units.map { case (k, u) => k -> Map("value" -> vals.getOrElse(k, 0.0), "unit" -> u) }
      .toMap

  def endToEnd(v: Map[String, Double]): Map[String, Any] = tag(endToEndUnits, v)
  def perLayer(v: Map[String, Double]): Map[String, Any] = tag(perLayerUnits, v)
}

/** The environment a result was measured in. */
object Env {
  def record(a: Args, cpus: Int, spark: SparkSession): Map[String, Any] = {
    val memKb = scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("MemTotal:") => l.split("\\s+")(1).toLong
      }.getOrElse(0L) finally src.close()
    }.getOrElse(0L)
    val shm = new java.io.File("/dev/shm")
    Map(
      "nproc" -> cpus,
      "mem_total_gib" -> memKb / 1048576.0,
      "jvm_flags" -> Jvm.flags(),
      "spark_version" -> spark.version,
      "spark_local_dir" -> spark.conf.get("spark.local.dir"),
      "shm_usable_gib" -> (if (shm.isDirectory) shm.getUsableSpace / 1073741824.0 else 0.0),
      // what LocalScratch elects when its directory is not overridden: the
      // benchmark overrides it to keep scratch inside its run directory
      "localscratch_default_election" ->
        (if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= (16L << 30))
          "/dev/shm" else "java.io.tmpdir"),
      "flush_policy" -> ("file: through " + spark.conf.get("spark.hadoop.fs.file.impl") +
        " (RawLocalFileSystem: no checksum sidecars, no fsync)"),
      "docs_dir_exists" ->
        new java.io.File(graft.ingest.BinaryIngest.defaultDocsDir).isDirectory,
      "data_dir" -> a.data,
      "seconds" -> a.seconds)
  }
}

/** JSON for the result lines and the stored expected results. */
object Json {
  val mapper: com.fasterxml.jackson.databind.ObjectMapper =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .configure(com.fasterxml.jackson.databind.SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS,
        true)
  def of(v: Any): String = mapper.writeValueAsString(v)
}
