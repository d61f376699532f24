package graft.perfbench

import scala.collection.mutable
import graft.SparkEntry

/** Maintenance mode behind `record.py`: runs every registered query once
  * on the benchmark corpus and writes, per query, its cold latency, its
  * fingerprint, its result as parquet (for the DuckDB cross-check) and
  * whether it must stay out of `query_mix`:
  *  - it needs the PDF corpus (`graft.ingest` default docs directory);
  *  - it commits to a snapshot table (`graft: stage*` jobs);
  *  - it writes scratch outside the working directory (fixed `/tmp`
  *    paths inside the engine), which a benchmark run may not do;
  *  - it fails on the benchmark corpus.
  */
object Record {
  private def scratchState(): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(f: java.io.File, depth: Int): Unit = {
      out(f.getPath) = (f.lastModified, f.length)
      if (depth < 1 && f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles).foreach(_.foreach(walk(_, depth + 1)))
    }
    Option(new java.io.File("/tmp").listFiles).foreach(_.filter(_.getName.startsWith("graft"))
      .foreach(walk(_, 0)))
    out.toMap
  }

  def run(a: Args, cpus: Int): Unit = {
    val out = a.recordOut.get
    val spark = Main.session(a, cpus)
    val jobs = new JobListener
    spark.sparkContext.addSparkListener(jobs)
    val docs = graft.ingest.BinaryIngest.defaultDocsDir
    val rows = mutable.Map.empty[String, Map[String, Any]]
    // warm the process as a benchmark run's set-up does, and visit the
    // queries in a seeded order so JIT warm-up is not charged to the
    // alphabetically first ones
    graft.Tables.names.foreach(n => graft.Tables.load(spark, a.data, n).count())
    Fingerprint.of(SparkEntry.queries("q_agg_hash")(spark, a.data))
    val order = new scala.util.Random(a.seed).shuffle(SparkEntry.queries.keys.toSeq.sorted)
    for (q <- order) {
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      val graft0 = Counters.snapshot().getOrElse("sources.graft_jobs", 0.0)
      val before = scratchState()
      val t0 = System.nanoTime()
      val res = scala.util.Try(Fingerprint.of(SparkEntry.queries(q)(spark, a.data)))
      val ms = (System.nanoTime() - t0) / 1e6
      org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
      val commits = Counters.snapshot().getOrElse("sources.graft_jobs", 0.0) - graft0
      val scratch = scratchState() != before
      val reason = res.failed.toOption.map { e =>
        val msg = String.valueOf(e.getMessage)
        if (msg.contains(docs)) "needs the PDF corpus"
        else "fails on the benchmark corpus: " + msg.take(200)
      }.orElse(Option.when(commits > 0)("commits to a snapshot table"))
        .orElse(Option.when(scratch)("writes scratch outside the working directory"))
      reason match {
        case Some(r) => rows(q) = Map("excluded" -> r)
        case None =>
          val f = res.get
          SparkEntry.queries(q)(spark, a.data).coalesce(1).write.mode("overwrite")
            .parquet(s"$out/results/$q")
          rows(q) = Map("rows" -> f.rows, "hash" -> f.hex, "ref_ms" -> ms)
      }
      System.err.println(s"[record] $q ${rows(q)}")
    }
    val oracle = SparkEntry.oracleSql.filter { case (q, _) => rows(q).contains("rows") }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/spark.json"),
      Json.of(Map("queries" -> rows, "oracle" -> oracle)))
    spark.stop()
  }
}
