package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkFixture {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"

  /** The descriptions of the Spark jobs `body` starts. Listener events
    * arrive asynchronously but in order, so a labelled fence job before
    * and after `body` brackets exactly its jobs.
    */
  def jobsOf(body: => Unit): Seq[String] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def fence(label: String): Unit = {
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(label)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(prev)
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(label) && System.nanoTime() < deadline)
        Thread.sleep(10)
      require(seen.contains(label), s"listener never saw $label")
    }
    sc.addSparkListener(listener)
    try {
      fence("graft-test: before")
      body
      fence("graft-test: after")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq.dropWhile(_ != "graft-test: before").drop(1)
      .takeWhile(_ != "graft-test: after")
  }
}

/** Smoke + targeted correctness for the relational core at sf0.001.
  * The DuckDB differential oracle (driver t2 / tools/local_verify.py) is
  * the primary correctness gate; these specs catch regressions fast.
  */
class RelationalSuite extends AnyFunSuite {
  import SparkFixture._

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
  }

  test("all queries execute and are non-empty at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val n = fn(spark, sf).count()
        if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"empty results: $empty")
  }

  test("q_agg_hash group counts sum to the filtered lineitem count") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= lit("1998-12-01").cast("timestamp"))
    val got = SparkEntry.queries("q_agg_hash")(spark, sf)
    val total = got.agg(sum("count_order")).head().getLong(0)
    assert(total == li.count())
  }

  test("q_topk_per_group emits at most 3 per customer") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_topk_per_group")(spark, sf)
    val maxPer = got.groupBy("o_custkey").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPer <= 3)
  }

  test("q_join_anti + semi partition the customers with such orders") {
    val semi = SparkEntry.queries("q_join_semi")(spark, sf).count()
    val c = Tables.customer(spark, sf).count()
    assert(semi <= c)
  }

  test("approx_percentile lands within accuracy bounds of the exact value") {
    import org.apache.spark.sql.functions._
    val r = Tables.lineitem(spark, sf).agg(
      expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("approx"),
      expr("percentile(l_extendedprice, 0.5)").as("exact")).head
    val (a, e) = (r.getDouble(0), r.getDouble(1))
    // accuracy=1000 bounds rank error at n/1000; translate to a loose
    // relative value-error band for this distribution
    assert(math.abs(a - e) / e < 0.05, s"approx=$a exact=$e")
  }

  test("q_agg_approx_percentile quartiles track the exact tier per group") {
    import org.apache.spark.sql.functions._
    val approx = SparkEntry.queries("q_agg_approx_percentile")(spark, sf)
      .collect()
      .map(r => r.getString(0) -> Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val exact = Tables.lineitem(spark, sf).groupBy(col("l_returnflag"))
      .agg(expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D))")
        .as("q"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(approx.keySet == exact.keySet)
    for ((k, qs) <- exact; (e, a) <- qs.zip(approx(k)))
      assert(math.abs(a - e) / e < 0.05,
        s"group $k: approx=$a exact=$e beyond the rank-error band")
  }

  test("q_agg_approx_distinct stays within HLL error bounds of exact") {
    import org.apache.spark.sql.functions._
    // rsd = 0.02 is a standard-deviation bound; 5 sigma (10% relative
    // error) is a deterministic-in-practice acceptance band per group
    val approx = SparkEntry.queries("q_agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val relErr = math.abs(approx(k) - n).toDouble / n
      assert(relErr <= 0.10, s"group $k: approx=${approx(k)} exact=$n relErr=$relErr")
    }
  }

  test("q_agg_hll_sketch estimates match exact distincts within 5%") {
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("q_agg_hll_sketch")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val li = Tables.lineitem(spark, sf)
    val exact = li.groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap +
      ("ALL" -> li.select(countDistinct(col("l_orderkey"))).head().getLong(0))
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val relErr = math.abs(est(k) - n).toDouble / n
      // lgConfigK=12 -> rsd ~1.6%; 3 sigma acceptance
      assert(relErr <= 0.05, s"group $k: sketch=${est(k)} exact=$n relErr=$relErr")
    }
    // the merged ALL row must come from the union of the group sketches,
    // i.e. sit near the exact global distinct, not near the group sum
    val groupSum = exact.removed("ALL").values.sum
    assert(est("ALL") < groupSum * 0.9,
      s"ALL=${est("ALL")} should reflect cross-group overlap (sum=$groupSum)")
  }

  test("q_agg_countmin estimates honor the count-min error bound") {
    import org.apache.spark.sql.functions._
    val est = SparkEntry.queries("q_agg_countmin")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val tokens = Tables.documents(spark, sf)
      .select(explode(split(lower(col("text")), "\\s+")).as("token"))
      .filter(length(col("token")) > 0)
    val n = tokens.count()
    val exact = tokens.groupBy("token").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    est.foreach { case (t, e) =>
      val truth = exact.getOrElse(t, 0L)
      // CMS never under-counts; over-count <= eps*N at 99% confidence
      assert(e >= truth, s"$t: est=$e < exact=$truth")
      assert(e <= truth + (0.001 * n).ceil.toLong,
        s"$t: est=$e exceeds exact=$truth + eps*N")
    }
    assert(est("nosuchtoken") <= (0.001 * n).ceil.toLong)
  }

  test("q_agg_approx_topk reports true heavy hitters with near-exact counts") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_agg_approx_topk")(spark, sf)
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got.size == 10)
    val exact = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // reported counts may only overestimate, boundedly (Space-Saving/CMS
    // style guarantee); and the unambiguous global top-1 must be present
    got.foreach { case (tok, c) =>
      val e = exact(tok)
      assert(c >= e && c <= e + (exact.values.sum * 0.01).toLong,
        s"token $tok: sketch=$c exact=$e")
    }
    val top1 = exact.maxBy(_._2)
    assert(got.contains(top1._1),
      s"global top token ${top1._1} (${top1._2}) missing from $got")
  }

  test("q_skyline equals the brute-force dominance frontier") {
    import org.apache.spark.sql.functions._
    val pts = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_retailprice"), col("p_size"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val brute = pts.filter { case (_, pa, sa) =>
      !pts.exists { case (_, pb, sb) =>
        pb <= pa && sb >= sa && (pb < pa || sb > sa)
      }
    }.map(_._1).toSet
    val got = SparkEntry.queries("q_skyline")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    assert(got == brute, s"skyline mismatch: got=$got brute=$brute")
  }

  test("q_resample_interpolate: complete grid, interior filled, edges null") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q_resample_interpolate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val users = out.map(_._1).distinct
    val hours = out.map(_._2).distinct
    assert(out.length == users.length * hours.length, "grid must be complete")
    for (u <- users) {
      val rows = out.filter(_._1 == u).sortBy(_._2.getTime)
      val obsIdx = Tables.events(spark, sf).filter(col("user_id") === u)
        .select(date_trunc("hour", col("ts")).as("h")).distinct()
        .collect().map(_.getTimestamp(0).getTime)
      val (lo, hi) = (obsIdx.min, obsIdx.max)
      rows.foreach { case (_, h, v) =>
        val t = h.getTime
        if (t < lo || t > hi)
          assert(v.isEmpty, s"user $u hour $h outside observations must be null")
        else
          assert(v.nonEmpty, s"user $u hour $h between observations must be filled")
      }
    }
  }
}
