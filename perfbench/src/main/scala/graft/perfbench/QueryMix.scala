package graft.perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables}

/** Expected result of one registered query on the benchmark corpus. */
final case class Expected(rows: Long, hash: String, checkHash: Boolean,
    refMs: Double)

object Expected {
  /** (query -> expected result, excluded query -> reason) */
  def load(path: String): (Map[String, Expected], Map[String, String]) = {
    val root = Json.mapper.readTree(new java.io.File(path))
    val qs = root.get("queries").fields().asScala.map { e =>
      val v = e.getValue
      e.getKey -> Expected(v.get("rows").asLong, v.get("hash").asText,
        v.get("check").asText == "hash", v.get("ref_ms").asDouble)
    }.toMap
    val ex = root.get("excluded").fields().asScala
      .map(e => e.getKey -> e.getValue.asText).toMap
    (qs, ex)
  }
}

/** Analysts running registered queries: read-only, one client. Every op
  * builds one registered query and runs it, for the first time in the
  * process, to its full result through the `noop` sink; a second, untimed
  * pass fingerprints the result, which must equal the stored one.
  *
  * The queries are split into `panelSize` bands by their recorded cold
  * latency, and the bands into a fixed sequence of panels: panel j holds
  * one member of every band, taken serpentine (cheapest first in even
  * bands, dearest first in odd ones) so that panels cost about the same.
  * A round runs the next panel in a seeded order. Every run therefore
  * sees the same queries in its window whatever the seed, and a panel
  * samples the inventory's latency distribution evenly; the seed changes
  * the order only. One panel takes longer than the run window, so a run
  * is one panel unless the engine gets much faster.
  */
final class QueryMix(a: Args, rng: scala.util.Random, stats: Stats) extends Workload {
  private val panelSize = 20
  private val (expected, excluded) = Expected.load(a.expected)
  private val sequence: IndexedSeq[IndexedSeq[String]] = {
    val byCost = expected.toSeq.sortBy { case (q, e) => (e.refMs, q) }.map(_._1).toIndexedSeq
    val n = byCost.size
    val bands = (0 until panelSize).map(b => byCost.slice(b * n / panelSize, (b + 1) * n / panelSize))
      .filter(_.nonEmpty)
    val rounds = bands.map(_.size).max
    (0 until rounds).map(j => bands.zipWithIndex.map { case (band, b) =>
      band(if (b % 2 == 0) j % band.size else band.size - 1 - j % band.size)
    })
  }
  private val panels = Iterator.continually(sequence).flatten
  private var spark: SparkSession = _

  def setup(s: SparkSession, round: Int): Unit = {
    spark = s
    val t0 = System.nanoTime()
    Tables.names.foreach { n =>
      (if (n == "events") Tables.events(s, a.data) else Tables.load(s, a.data, n)).count()
    }
    stats.add("tables.warm_ms", (System.nanoTime() - t0) / 1e6)
    // the first set-up also warms the shuffle and exec machinery and the
    // corpus shingle frame shared by the dedup family, as the engine's
    // bench does; codegen and the JIT are process-wide, so later set-ups
    // rebuild only the session's own state
    if (round == 0) Seq("q_agg_hash", "q_dedup_minhash").foreach { q =>
      Full.run(SparkEntry.queries(q)(s, a.data))
    }
  }

  def nextRound(): Seq[Op] = rng.shuffle(panels.next()).map(op)

  private def op(q: String): Op = Op(q, "query", (timed, corrupt) => {
    val e = expected(q)
    stats.note(q)
    val df = timed(SparkEntry.queries(q)(spark, a.data))
    val built = timed.ms
    timed(Full.run(df))
    stats.add("operators.build_ms", built)
    stats.add("operators.exec_ms", timed.ms - built)
    // the listener sees the noop write; the query's own analysis ran
    // when it was built, and only that phase is on its tracker yet
    if (a.trace) CatalystListener.record(df.queryExecution)
    val got0 = Counters.excluding(Fingerprint.of(df))
    val got = if (corrupt) got0.corrupted else got0
    stats.add("rows", got.rows.toDouble)
    val ok = got.rows == e.rows && (!e.checkHash || got.hex == e.hash)
    if (!ok) System.err.println(
      s"[perfbench] $q: rows ${got.rows} hash ${got.hex}, expected ${e.rows} ${e.hash}")
    ok
  })

  def finish(): Boolean = true

  override def layerMetrics(ops: Int): Map[String, Double] = Map(
    "operators.build_ms" -> stats.sum("operators.build_ms") / ops,
    "operators.exec_ms" -> stats.sum("operators.exec_ms") / ops)

  override def info: Map[String, Any] = Map(
    "queries" -> expected.size, "excluded_queries" -> excluded)
}
