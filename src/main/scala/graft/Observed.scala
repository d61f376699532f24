package graft

/** Counts that ride a job already running: a `Dataset.observe` metric
  * (a CollectMetrics node) is filled by the write or `localCheckpoint`
  * that executes its plan, so reading it costs no job of its own.
  */
object Observed {

  /** An observed long metric, null-safe (a sum over zero rows is null)
    * — with a FALLBACK job for the case where the metric was LOST:
    * AQE's runtime empty-relation propagation replaces a subtree whose
    * shuffle output turned out empty (e.g. a delete that leaves no
    * survivors) and the final adaptive plan then no longer contains the
    * CollectMetrics node, so the observation resolves to an EMPTY map
    * even though the scan ran (reproduced on 4.1.2). The fast path
    * stays job-free; the rare lost path recomputes.
    */
  def observedLong(metrics: Map[String, Any], name: String)(
      fallback: => Long): Long =
    metrics.get(name) match {
      case Some(null) => 0L
      case Some(n: java.lang.Long) => n.longValue
      case Some(other) => other.toString.toLong
      case None => fallback
    }
}
