package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

case class Ev(ts: Timestamp, user_id: Long, event_type: String, value: Double)

/** True streaming semantics (FIXTURES.md B7): MemoryStream-driven
  * tumbling windows, session merge, and watermark late-data dropping.
  * The batch-equivalent forms are DuckDB-oracled via SparkEntry; these
  * tests pin the streaming behavior the oracle can't see.
  */
class StreamingSuite extends AnyFunSuite {
  import SparkFixture._

  private def t(m: String): Timestamp = Timestamp.valueOf(m)

  test("foreachBatch upsert sink merges micro-batches into a keyed table") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.upsertSink(
      mem.toDF().toDF("k", "v"), s"$dir/table", "k", s"$dir/ckpt")
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((2L, "B"), (3L, "c"))
      q.processAllAvailable()
      val got = spark.read.parquet(s"$dir/table")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got == Map(1L -> "a", 2L -> "B", 3L -> "c"),
        s"second batch must win per key, got $got")
    } finally q.stop()
  }

  test("tumbling window streaming counts match the batch aggregation") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t("2024-01-01 10:05:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 10:55:00"), 1, "a", 2.0),
      Ev(t("2024-01-01 11:05:00"), 2, "b", 3.0))
    val q = mem.toDF()
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("tumbling_out")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got == Map("2024-01-01 10:00:00.0" -> 2L, "2024-01-01 11:00:00.0" -> 1L))
  }

  test("stream-stream interval join matches batch and joins across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val joined = graft.streaming.StreamOps.streamStreamJoin(
      views.toDF().toDF("user_id", "view_ts"),
      purchases.toDF().toDF("p_user", "purchase_ts"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      // batch 1: views only — nothing can emit yet
      views.addData((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:10:00")))
      q.processAllAvailable()
      assert(spark.table("ssj_out").count() == 0)
      // batch 2: purchases — user 1 inside the hour (matches the BUFFERED
      // view from batch 1), user 2 outside it, user 3 without a view
      purchases.addData(
        (1L, t("2024-01-01 10:30:00")),
        (2L, t("2024-01-01 11:30:00")),
        (3L, t("2024-01-01 10:20:00")))
      q.processAllAvailable()
      val got = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString)).toSet
      assert(got == Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0")),
        s"only the in-window cross-batch pair may emit, got $got")
      // and the streaming result equals the batch join of the same rows
      val vB = Seq((1L, t("2024-01-01 10:00:00")), (2L, t("2024-01-01 10:10:00")))
        .toDF("user_id", "view_ts")
      val pB = Seq((1L, t("2024-01-01 10:30:00")), (2L, t("2024-01-01 11:30:00")),
        (3L, t("2024-01-01 10:20:00"))).toDF("p_user", "purchase_ts")
      val batch = vB.join(pB,
        expr("user_id = p_user AND purchase_ts > view_ts AND " +
          "purchase_ts <= view_ts + INTERVAL 1 HOUR"))
        .select(col("user_id"), col("view_ts"), col("purchase_ts"))
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString)).toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits unmatched rows only after watermark eviction") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val views = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp)]
    val joined = graft.streaming.StreamOps.streamStreamJoin(
      views.toDF().toDF("user_id", "view_ts"),
      purchases.toDF().toDF("p_user", "purchase_ts"), "left_outer")
    val q = joined.writeStream.format("memory").queryName("ssj_left_out")
      .outputMode("append").start()
    try {
      def rows() = spark.table("ssj_left_out").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          Option(r.getTimestamp(2)).map(_.toString))).toSet
      // user 1 will match; user 4 never will
      views.addData((1L, t("2024-01-01 10:00:00")), (4L, t("2024-01-01 10:05:00")))
      purchases.addData((1L, t("2024-01-01 10:30:00")))
      q.processAllAvailable()
      // no null-extended row yet: user 4's join window is still open, the
      // engine cannot know a match won't arrive
      assert(rows().forall(_._3.nonEmpty),
        s"unmatched view emitted before its window closed: ${rows()}")
      // advance the watermark past view_ts + 1h (join window end): wm =
      // max event time - 1h; 14:00 events put it at 13:00
      views.addData((9L, t("2024-01-01 14:00:00")))
      purchases.addData((9L, t("2024-01-01 14:00:01")))
      q.processAllAvailable()
      // eviction can land one micro-batch later; nudge once more
      purchases.addData((8L, t("2024-01-01 14:00:02")))
      q.processAllAvailable()
      assert(rows().contains((4L, "2024-01-01 10:05:00.0", None)),
        s"evicted unmatched view must emit null-extended, got ${rows()}")
      assert(rows().contains((1L, "2024-01-01 10:00:00.0",
        Some("2024-01-01 10:30:00.0"))))
    } finally q.stop()
  }

  test("session windows merge within gap and split on >= gap") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 10:05:00"), 1, "a", 1.0), // within 10-min gap
      Ev(t("2024-01-01 10:25:00"), 1, "a", 1.0), // gap 20 min -> new session
      Ev(t("2024-01-01 10:06:00"), 2, "a", 1.0)) // separate user
    val q = mem.toDF()
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("ss"), col("user_id"), col("n"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("session_out").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(
      ("2024-01-01 10:00:00.0", 1L, 2L),
      ("2024-01-01 10:25:00.0", 1L, 1L),
      ("2024-01-01 10:06:00.0", 2L, 1L)))
  }

  test("file-source streaming tumbling agg matches the batch form") {
    import org.apache.spark.sql.streaming.Trigger
    val q = graft.streaming.StreamOps.tumblingStream(spark, sf)
      .writeStream.format("memory").queryName("filestream_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.table("filestream_out")
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        r.getLong(2)).toMap
    val batch = graft.streaming.StreamOps.tumbling(spark, sf)
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
        r.getLong(2)).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} windows, batch ${batch.size}")
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    mem.addData(
      Ev(t("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(t("2024-01-01 10:01:00"), 1, "click", 2.0), // dup within watermark
      Ev(t("2024-01-01 10:02:00"), 2, "click", 3.0))
    q.processAllAvailable()
    mem.addData(Ev(t("2024-01-01 10:03:00"), 1, "click", 4.0)) // still dup
    q.processAllAvailable()
    q.stop()
    val got = spark.table("dedup_out").collect()
      .map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(got.size == 2, s"expected 2 unique (user, type) rows, got $got")
    assert(got.toSet == Set((1L, "click"), (2L, "click")))
  }

  test("stream-stream interval join matches events within the time bound") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val buys = MemoryStream[Ev]
    val c = clicks.toDF().select(col("user_id").as("c_user"),
      col("ts").as("c_ts")).withWatermark("c_ts", "10 minutes")
    val b = buys.toDF().select(col("user_id").as("b_user"),
      col("ts").as("b_ts"), col("value")).withWatermark("b_ts", "10 minutes")
    val joined = c.join(b,
      expr("""c_user = b_user AND
             |b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 5 MINUTES""".stripMargin))
    val q = joined.writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    clicks.addData(Ev(t("2024-01-01 10:00:00"), 1, "click", 0.0))
    buys.addData(
      Ev(t("2024-01-01 10:03:00"), 1, "buy", 9.99),   // within 5 min -> match
      Ev(t("2024-01-01 10:09:00"), 1, "buy", 5.00))   // beyond bound -> no match
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ssjoin_out")
      .collect().map(r => (r.getLong(0), r.getDouble(4)))
    assert(got.toSeq == Seq((1L, 9.99)), s"got ${got.toSeq}")
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions with state") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.SessionEvent
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[SessionEvent]
    val sessions = StatefulSessions.sessionize(
      mem.toDS().withWatermark("ts", "1 minute").as[SessionEvent])
    val q = sessions.writeStream.format("memory").queryName("stateful_out")
      .outputMode("append").start()
    // session 1: two events 5 min apart; then a 20-min gap opens session 2
    mem.addData(SessionEvent(1L, t("2024-01-01 10:00:00"), 1.0),
      SessionEvent(1L, t("2024-01-01 10:05:00"), 2.0))
    q.processAllAvailable()
    mem.addData(SessionEvent(1L, t("2024-01-01 10:25:00"), 5.0))
    q.processAllAvailable()
    // advance watermark far enough to time out session 2
    mem.addData(SessionEvent(2L, t("2024-01-01 11:00:00"), 0.5))
    q.processAllAvailable()
    mem.addData(SessionEvent(2L, t("2024-01-01 12:00:00"), 0.5))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("stateful_out")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getLong(2), r.getDouble(3))).toSet
    assert(got.contains((1L, "2024-01-01 10:00:00.0", 2L, 3.0)),
      s"closed first session expected; got $got")
    assert(got.contains((1L, "2024-01-01 10:25:00.0", 1L, 5.0)),
      s"timed-out second session expected; got $got")
  }

  test("transformWithState sessionizer matches the fMGWS sessionizer") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.SessionEvent
    implicit val sq = spark.sqlContext
    import spark.implicits._
    // transformWithState REQUIRES the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[SessionEvent]
      val q = StatefulSessions.sessionizeTws(
          mem.toDS().withWatermark("ts", "1 minute").as[SessionEvent])
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("append").start()
      // the exact event sequence of the fMGWS test
      mem.addData(SessionEvent(1L, t("2024-01-01 10:00:00"), 1.0),
        SessionEvent(1L, t("2024-01-01 10:05:00"), 2.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(1L, t("2024-01-01 10:25:00"), 5.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, t("2024-01-01 11:00:00"), 0.5))
      q.processAllAvailable()
      mem.addData(SessionEvent(2L, t("2024-01-01 12:00:00"), 0.5))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("tws_out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet
      // identical emissions to the fMGWS sessionizer's assertions
      assert(got.contains((1L, "2024-01-01 10:00:00.0", 2L, 3.0)),
        s"closed first session expected; got $got")
      assert(got.contains((1L, "2024-01-01 10:25:00.0", 1L, 5.0)),
        s"timer-closed second session expected; got $got")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stateful sessionizer merges late in-watermark events without splitting") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.SessionEvent
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[SessionEvent]
    val q = StatefulSessions.sessionize(
      mem.toDS().withWatermark("ts", "30 minutes").as[SessionEvent])
      .writeStream.format("memory").queryName("late_session_out")
      .outputMode("append").start()
    mem.addData(SessionEvent(1L, t("2024-01-01 10:00:00"), 1.0))
    q.processAllAvailable()
    // late event BEFORE the session start but within its gap envelope
    mem.addData(SessionEvent(1L, t("2024-01-01 09:55:00"), 2.0))
    q.processAllAvailable()
    // continues the same session (gap from 10:00 is 6 min < 10)
    mem.addData(SessionEvent(1L, t("2024-01-01 10:06:00"), 4.0))
    q.processAllAvailable()
    // force timeout via a much-later event on another key
    mem.addData(SessionEvent(2L, t("2024-01-01 12:00:00"), 0.0))
    q.processAllAvailable()
    mem.addData(SessionEvent(2L, t("2024-01-01 14:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("late_session_out")
      .filter(col("user_id") === 1)
      .collect().map(r => (r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(("2024-01-01 09:55:00.0", 3L, 7.0)),
      s"one merged session with extended start expected, got ${got.toSeq}")
  }

  test("mergeEvent conserves events and separates sessions by >= gap (property)") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.{SessionState, SessionOut}
    val rnd = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      // random in-order event times with mixed sub-gap and super-gap steps
      val n = 1 + rnd.nextInt(40)
      val times = Iterator.iterate(0L)(t =>
        t + (if (rnd.nextBoolean()) rnd.nextInt(9 * 60 * 1000).toLong
             else StatefulSessions.gapMs + rnd.nextInt(60 * 60 * 1000)))
        .take(n).toSeq
      val closed = Seq.newBuilder[SessionState]
      var cur = Option.empty[SessionState]
      times.foreach { t =>
        cur = Some(StatefulSessions.mergeEvent(cur, t, 1.0, closed += _))
      }
      val all = closed.result() ++ cur
      // conservation: every event lands in exactly one session
      assert(all.map(_.n).sum == n)
      assert(math.abs(all.map(_.total).sum - n.toDouble) < 1e-9)
      // session bounds are sane and consecutive sessions are >= gap apart
      all.foreach(s => assert(s.start <= s.lastTs))
      all.sliding(2).foreach {
        case Seq(a, b) =>
          assert(b.start >= a.lastTs + StatefulSessions.gapMs,
            s"sessions closer than the gap: $a then $b")
        case _ =>
      }
    }
  }

  test("windowed state survives a restart via checkpoint (file sink)") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val mem = MemoryStream[Ev]
    def start() = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append").start()
    // run 1: two events land in the 10:00 window; nothing emitted yet
    val q1 = start()
    mem.addData(Ev(t("2024-01-01 10:00:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 10:05:00"), 1, "a", 1.0))
    q1.processAllAvailable(); q1.stop()
    // run 2 (restart from checkpoint): advancing the watermark closes the
    // 10:00 window -- its count must include the PRE-restart rows
    val q2 = start()
    mem.addData(Ev(t("2024-01-01 10:30:00"), 1, "a", 1.0))
    q2.processAllAvailable(); q2.stop()
    val got = spark.read.parquet(s"$base/out")
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got.get("2024-01-01 10:00:00.0").contains(2L),
      s"state lost across restart: $got")
  }

  test("transformWithState state and timers survive a restart via checkpoint") {
    import graft.streaming.StatefulSessions
    import graft.streaming.StatefulSessions.SessionEvent
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val base = java.nio.file.Files.createTempDirectory("graft_tws_ckpt").toString
    try {
      val mem = MemoryStream[SessionEvent]
      def start() = StatefulSessions.sessionizeTws(
          mem.toDS().withWatermark("ts", "1 minute").as[SessionEvent])
        .writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").start()
      // run 1: open a session (2 events), nothing emitted yet
      val q1 = start()
      mem.addData(SessionEvent(1L, t("2024-01-01 10:00:00"), 1.0),
        SessionEvent(1L, t("2024-01-01 10:05:00"), 2.0))
      q1.processAllAvailable(); q1.stop()
      // run 2 (restart): the watermark advance must fire the RESTORED
      // timer and close the session with the PRE-restart state
      val q2 = start()
      mem.addData(SessionEvent(2L, t("2024-01-01 11:00:00"), 0.5))
      q2.processAllAvailable()
      mem.addData(SessionEvent(2L, t("2024-01-01 12:00:00"), 0.5))
      q2.processAllAvailable(); q2.stop()
      val got = spark.read.parquet(s"$base/out")
        .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3))).toSet
      assert(got.contains((1L, "2024-01-01 10:00:00.0", 2L, 3.0)),
        s"session state/timer lost across restart: $got")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("watermark replay is shard-width invariant (sharded == one shard)") {
    // one giant shard degenerates to the plain global prefix max, so any
    // width must reproduce it exactly — the decomposition is semantics-free
    def run(w: Long) =
      graft.streaming.StreamOps.watermarkLate(spark, sf, shardWidth = w)
        .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toSeq
    val single = run(Long.MaxValue)
    assert(single.nonEmpty)
    assert(run(4096L) == single)
    assert(run(17L) == single, "uneven tiny shards must not change output")
  }

  test("rate source plugs into the same keyed aggregation (source pluggability)") {
    // the sandbox has no Kafka; the built-in rate source proves the
    // transforms are source-agnostic beyond files/MemoryStream
    val q = spark.readStream.format("rate").option("rowsPerSecond", 500)
      .load()
      .withColumn("bucket", col("value") % 10)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), max(col("timestamp")).as("latest"))
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("complete").start()
    try {
      // rate emits on wall-clock time: poll until a non-empty batch lands
      val deadline = System.currentTimeMillis() + 30000
      var rows = 0L
      while (rows == 0 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        rows = spark.table("rate_out").count()
        if (rows == 0) Thread.sleep(200)
      }
      assert(rows > 0, "rate source produced no rows within 30s")
      val got = spark.table("rate_out").collect()
      assert(got.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 10))
      assert(got.map(_.getLong(1)).sum > 0)
      assert(got.forall(!_.isNullAt(2)))
    } finally q.stop()
  }

  test("one query, three sources: EventSource seam swaps file/memory/rate " +
      "feeds without touching the query") {
    import graft.streaming.{EventSource, StreamOps}
    import org.apache.spark.sql.streaming.Trigger
    implicit val sq = spark.sqlContext
    import spark.implicits._

    // source 1: in-memory feed through the seam — exact expected windows
    val mem = MemoryStream[Ev]
    mem.addData(
      Ev(t("2024-01-01 10:05:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 10:55:00"), 1, "a", 2.0),
      Ev(t("2024-01-01 11:05:00"), 2, "b", 3.0))
    val q1 = StreamOps.tumblingOf(EventSource.Frame(mem.toDF()), spark)
      .writeStream.format("memory").queryName("seam_mem")
      .outputMode("complete").start()
    q1.processAllAvailable(); q1.stop()
    val gotMem = spark.table("seam_mem").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2))
      .toMap
    assert(gotMem == Map(
      ("2024-01-01 10:00:00.0", "a") -> 2L,
      ("2024-01-01 11:00:00.0", "b") -> 1L))

    // source 2: the file tail — SAME function, source constructor
    // swapped; must equal the DuckDB-oracled batch aggregation
    val q2 = StreamOps.tumblingOf(EventSource.FileTail(sf), spark)
      .writeStream.format("memory").queryName("seam_file")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val gotFile = spark.table("seam_file").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2))
      .toMap
    val batch = StreamOps.tumbling(spark, sf).collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2))
      .toMap
    assert(gotFile == batch, s"file-tail ${gotFile.size} vs batch ${batch.size}")

    // source 3: the wall-clock rate generator — rows keep arriving, so
    // stop after >= 1 and reconstruct EVERY expected window from the
    // total row count alone (events are a pure function of the counter)
    val q3 = StreamOps.tumblingOf(EventSource.Rate(rowsPerSecond = 200),
        spark)
      .writeStream.format("memory").queryName("seam_rate")
      .outputMode("complete").start()
    val deadline = System.currentTimeMillis() + 60000
    var n = 0L
    while (n == 0 && System.currentTimeMillis() < deadline) {
      q3.processAllAvailable()
      n = spark.table("seam_rate").count()
      if (n == 0) Thread.sleep(200)
    }
    q3.stop() // freeze the last committed epoch before reading
    val gotRate = spark.table("seam_rate").collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1)) -> r.getLong(2))
      .toMap
    val total = gotRate.values.sum
    assert(total >= 1, "rate source produced no rows within 60s")
    // value v -> ts = v minutes from epoch, type = view iff v even
    val expected = (0L until total).groupBy(v =>
        ((v / 60) * 3600000L, if (v % 2 == 0) "view" else "purchase"))
      .view.mapValues(_.size.toLong).toMap
    assert(gotRate == expected,
      s"rate-derived windows diverge: got ${gotRate.size} keys")
  }

  test("watermark drops events older than watermark across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Ev]
    val q = mem.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("ws"), col("n"))
      .writeStream.format("memory").queryName("wm_out")
      .outputMode("append").start()
    // batch 1: two on-time events in the 10:00 window
    mem.addData(Ev(t("2024-01-01 10:00:00"), 1, "a", 1.0),
      Ev(t("2024-01-01 10:05:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // batch 2: advance event time -> watermark passes 10:10, closing the
    // 10:00 window (emitted with n=2)
    mem.addData(Ev(t("2024-01-01 10:30:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // batch 3: a late event behind the watermark (10:20) must be dropped
    mem.addData(Ev(t("2024-01-01 10:02:00"), 1, "a", 1.0))
    q.processAllAvailable()
    // batch 4: advance far enough to close the 10:30 window too
    mem.addData(Ev(t("2024-01-01 11:00:00"), 1, "a", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("wm_out").collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got("2024-01-01 10:00:00.0") == 2L,
      s"late event must not inflate the closed window: $got")
    assert(got("2024-01-01 10:30:00.0") == 1L)
  }

  test("changesStream tails live snapshot mutations and incrementally " +
      "maintains an aggregate view to equality with the full recompute") {
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdcstream").toString
    val t = s"$dir/src"
    val viewT = s"$dir/view"
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
    SnapshotTable.create(spark, t, items, numFiles = 8)
    SnapshotTable.create(spark, viewT,
      items.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty")),
      numFiles = 1)
    // the consumer: signed-delta view maintenance, EXACTLY-ONCE by
    // committing the cdcUpTo high-water mark atomically with the new
    // view data (the batch-id-in-manifest discipline) — replays and
    // overlapping restarts skip or re-derive from the mark
    def consumer(delta0: org.apache.spark.sql.DataFrame, from: Long,
        to: Long): Unit =
        SnapshotTable.withCommitRetry() {
          val cur = SnapshotTable.currentVersion(spark, viewT)
          val vsnap = SnapshotTable.readManifest(spark, viewT, cur)
          val mark = vsnap.meta.get("cdcUpTo").map(_.toLong).getOrElse(1L)
          if (to > mark) {
            val delta =
              if (mark == from) delta0
              else SnapshotTable.changesBetween(spark, t, mark, to)
            val dAgg = delta.withColumn("w",
                when(col("change_type") === "insert", lit(1L))
                  .otherwise(lit(-1L)))
              .groupBy(col("l_returnflag"))
              .agg(sum(col("w")).as("dn"),
                sum(col("w") * col("l_quantity")).as("dqty"))
            val newView = SnapshotTable.read(spark, viewT)
              .join(dAgg, Seq("l_returnflag"), "full_outer")
              .select(col("l_returnflag"),
                (coalesce(col("n"), lit(0L)) +
                  coalesce(col("dn"), lit(0L))).as("n"),
                (coalesce(col("qty"), lit(0d)) +
                  coalesce(col("dqty"), lit(0d))).as("qty"))
              .filter(col("n") > 0)
            val files = SnapshotTable.stageBatch(
              newView.repartition(1), viewT)
            SnapshotTable.commitManifest(spark, viewT,
              SnapshotTable.Snapshot(cur, vsnap.schema, files,
                Map("cdcUpTo" -> to.toString)), cur)
            ()
          }
        }
    val q = SnapshotTable.changesStream(spark, t, 1L, s"$dir/ckpt")(consumer)
    try {
      // live mutation gauntlet WHILE the feed runs
      SnapshotTable.updateWhere(spark, t, col("l_orderkey") % 100 === 0,
        Map("l_quantity" -> (col("l_quantity") + 5)))
      SnapshotTable.deleteWhere(spark, t, col("l_orderkey") % 17 === 3)
      SnapshotTable.append(spark, t, items.limit(50))
      val deadline = System.currentTimeMillis() + 120000
      def mark(): Long = SnapshotTable.readManifest(spark, viewT,
        SnapshotTable.currentVersion(spark, viewT))
        .meta.get("cdcUpTo").map(_.toLong).getOrElse(1L)
      while (mark() < 4L && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(mark() === 4L, "the stream must catch up to source v4")
      val viewRows = SnapshotTable.read(spark, viewT)
        .orderBy(col("l_returnflag")).collect().map(_.toString).toSeq
      val recompute = SnapshotTable.read(spark, t)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag")).collect().map(_.toString).toSeq
      // integral quantities: the delta-maintained view is bit-identical
      assert(viewRows === recompute)
    } finally q.stop()
    // RESTART from scratch (fromVersion = 1 again — the naive operator
    // restart): the cdcUpTo mark must make the replayed v1..v4 prefix a
    // no-op (a double-apply would corrupt every count), while the
    // mutations landed AFTER the stop are picked up and applied once
    SnapshotTable.deleteWhere(spark, t, col("l_orderkey") % 13 === 1)
    SnapshotTable.append(spark, t, items.limit(25))
    val q2 = SnapshotTable.changesStream(spark, t, 1L, s"$dir/ckpt2")(consumer)
    try {
      val deadline2 = System.currentTimeMillis() + 120000
      def mark2(): Long = SnapshotTable.readManifest(spark, viewT,
        SnapshotTable.currentVersion(spark, viewT))
        .meta.get("cdcUpTo").map(_.toLong).getOrElse(1L)
      while (mark2() < 6L && System.currentTimeMillis() < deadline2)
        Thread.sleep(200)
      assert(mark2() === 6L, "the restarted stream must reach source v6")
      val viewRows2 = SnapshotTable.read(spark, viewT)
        .orderBy(col("l_returnflag")).collect().map(_.toString).toSeq
      val recompute2 = SnapshotTable.read(spark, t)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("qty"))
        .orderBy(col("l_returnflag")).collect().map(_.toString).toSeq
      assert(viewRows2 === recompute2,
        "restart must apply the post-stop tail exactly once and the " +
          "replayed prefix zero times")
    } finally q2.stop()
  }

  test("readStream.format(graft): change feed as a first-class source " +
      "— version offsets checkpointed, windowed aggregate, restart " +
      "resumes exactly-once") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cdfsrc").toString
    val t = s"$dir/src"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    SnapshotTable.create(spark, t, Seq(
      (1L, ts("2024-01-01 10:05:00"), 10.0),
      (2L, ts("2024-01-01 10:15:00"), 20.0),
      (3L, ts("2024-01-01 10:45:00"), 30.0)
    ).toDF("k", "ts", "v"), numFiles = 2)
    val feed = spark.readStream.format("graft")
      .option("path", t).load()
    assert(feed.isStreaming)
    // a WINDOWED streaming aggregate over the feed: signed net rows and
    // raw change-event counts per 30-minute window
    val agg = feed
      .withColumn("w", when(col("change_type") === "insert", 1L)
        .otherwise(-1L))
      .groupBy(window(col("ts"), "30 minutes"))
      .agg(sum(col("w")).as("net"), count(lit(1)).as("events"))
      .select(col("window.start").cast("string").as("ws"),
        col("net"), col("events"))
    def snapshotOf(tbl: String): Set[(String, Long, Long)] =
      spark.table(tbl).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val q = agg.writeStream.outputMode("complete").format("memory")
      .queryName("cdf_win")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      // fromVersion default 0: the whole starting snapshot arrives as
      // one initial insert batch
      assert(snapshotOf("cdf_win") === Set(
        ("2024-01-01 10:00:00", 2L, 2L),
        ("2024-01-01 10:30:00", 1L, 1L)))
      // live mutations: a delete event in the 10:00 window, an insert
      // in the 10:30 window — each arrives as one incremental batch
      SnapshotTable.deleteWhere(spark, t, col("k") === 2L)
      SnapshotTable.append(spark, t,
        Seq((4L, ts("2024-01-01 10:50:00"), 40.0)).toDF("k", "ts", "v"))
      q.processAllAvailable()
      assert(snapshotOf("cdf_win") === Set(
        ("2024-01-01 10:00:00", 1L, 3L),
        ("2024-01-01 10:30:00", 2L, 2L)))
    } finally q.stop()
    // a mutation lands while the query is DOWN; the restart (same
    // checkpoint) must process exactly the missed tail — the update is
    // a netted delete+insert pair in the 10:00 window. A replay of the
    // already-processed versions would inflate `events` past 5/2.
    SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(11.0)))
    val q2 = agg.writeStream.outputMode("complete").format("memory")
      .queryName("cdf_win2")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q2.processAllAvailable()
      assert(snapshotOf("cdf_win2") === Set(
        ("2024-01-01 10:00:00", 1L, 5L),
        ("2024-01-01 10:30:00", 2L, 2L)),
        "restart must resume from the checkpointed version offset: " +
          "missed tail once, replayed prefix never")
    } finally q2.stop()
  }

  test("graft streaming SINK: exactly-once appends — a redelivered " +
      "batch id is skipped, a restart resumes without duplicates, " +
      "createIfMissing bootstraps from the first batch") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.sources.{GraftDataSource, SnapshotTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val t = s"$dir/table"
    val mem = MemoryStream[(Long, String)]
    def start() = mem.toDF().toDF("k", "v").writeStream.format("graft")
      .option("path", t).option("createIfMissing", "true")
      .option("checkpointLocation", s"$dir/ckpt").start()
    val q = start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
      val got = SnapshotTable.read(spark, t).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got === Map(1L -> "a", 2L -> "b", 3L -> "c"))
    } finally q.stop()
    // RESTART from the same checkpoint: only the new data commits
    mem.addData((4L, "d"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(SnapshotTable.read(spark, t).count() === 4L,
      "restart must append exactly the missed tail")
    // REDELIVERY (the crash-between-data-and-checkpoint window): the
    // sink sees an already-committed batch id — must skip, version
    // and contents unchanged. The live query committed ids 0..2 under
    // the default queryKey.
    val v = SnapshotTable.currentVersion(spark, t)
    val sink = new GraftDataSource.GraftSink(spark, t, "sink",
      complete = false, createIfMissing = false)
    sink.addBatch(2L, Seq((9L, "dup")).toDF("k", "v"))
    assert(SnapshotTable.currentVersion(spark, t) === v &&
      SnapshotTable.read(spark, t).count() === 4L,
      "a redelivered batch must commit exactly once (skip the replay)")
    // a FRESH id commits; its own replay then skips
    sink.addBatch(3L, Seq((5L, "e")).toDF("k", "v"))
    sink.addBatch(3L, Seq((6L, "f")).toDF("k", "v"))
    assert(SnapshotTable.read(spark, t).collect()
      .map(_.getLong(0)).toSet === Set(1L, 2L, 3L, 4L, 5L))
    // a second stream into the SAME table under its own queryKey gets
    // an independent batch-id watermark
    val sink2 = new GraftDataSource.GraftSink(spark, t, "other",
      complete = false, createIfMissing = false)
    sink2.addBatch(0L, Seq((7L, "g")).toDF("k", "v"))
    assert(SnapshotTable.read(spark, t).count() === 6L)
    // misaligned batch columns must error, never NULL-fill silently
    intercept[Exception] {
      sink.addBatch(4L, Seq((8L, "h")).toDF("k", "WRONG"))
    }
  }

  test("graft streaming SINK into an IDENTITY table: every micro-batch " +
      "draws unique monotonic ids; a redelivered batch burns none") {
    import spark.implicits._
    import graft.sources.{GraftDataSource, SnapshotTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_sinkid")
      .toString
    val t = s"$dir/table"
    SnapshotTable.createWithIdentity(spark, t,
      Seq.empty[(Long, String)].toDF("k", "v"), idCol = "id",
      sortCols = Seq("k"), numFiles = 1)
    val sink = new GraftDataSource.GraftSink(spark, t, "sink",
      complete = false, createIfMissing = false)
    sink.addBatch(0L, Seq((10L, "a"), (11L, "b")).toDF("k", "v"))
    sink.addBatch(1L, Seq((20L, "c")).toDF("k", "v"))
    // redelivery: skipped AND no ids burned
    sink.addBatch(1L, Seq((99L, "dup")).toDF("k", "v"))
    sink.addBatch(2L, Seq((30L, "d")).toDF("k", "v"))
    val got = SnapshotTable.read(spark, t).orderBy(col("id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 10L), (2L, 11L), (3L, 20L), (4L, 30L)),
      "ids must be dense across micro-batches — the skipped replay " +
        "burned none")
    assert(SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
      .meta("identityHwm").toLong === 4L)
  }

  test("graft streaming SINK with mergeSchema: a drifting stream " +
      "schema evolves the table atomically with the batch; off errors") {
    import spark.implicits._
    import graft.sources.{GraftDataSource, SnapshotTable}
    val dir = java.nio.file.Files.createTempDirectory("graft_sinkms")
      .toString
    val t = s"$dir/table"
    SnapshotTable.create(spark, t, Seq((1L, "a")).toDF("k", "v"),
      numFiles = 1)
    // OFF: a batch with an unknown column errors, version unchanged
    val strict = new GraftDataSource.GraftSink(spark, t, "sink",
      complete = false, createIfMissing = false)
    intercept[Exception] {
      strict.addBatch(0L, Seq((2L, "b", 1.5)).toDF("k", "v", "score"))
    }
    assert(SnapshotTable.currentVersion(spark, t) === 1L)
    // ON: schema + data + batch id in ONE commit
    val sink = new GraftDataSource.GraftSink(spark, t, "sink",
      complete = false, createIfMissing = false, mergeSchema = true)
    sink.addBatch(0L, Seq((2L, "b", 1.5)).toDF("k", "v", "score"))
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    val got = SnapshotTable.read(spark, t)
    assert(got.columns.toSeq === Seq("k", "v", "score"))
    assert(got.filter(col("k") === 1L).head().isNullAt(2),
      "pre-evolution rows read the new column as NULL")
    assert(got.filter(col("k") === 2L).head().getDouble(2) === 1.5)
    // the replay of the evolving batch skips — no second evolution,
    // no duplicate rows
    sink.addBatch(0L, Seq((9L, "dup", 9.9)).toDF("k", "v", "score"))
    assert(SnapshotTable.currentVersion(spark, t) === 2L &&
      got.count() === 2L)
    // a STRICT sink's replay after the schema evolved must SKIP, not
    // die aligning the (now-narrower) replayed frame — the
    // crash-before-checkpoint redelivery would otherwise wedge the
    // restarted query forever
    strict.addBatch(0L, Seq((9L, "dup")).toDF("k", "v"))
    assert(SnapshotTable.currentVersion(spark, t) === 2L &&
      SnapshotTable.read(spark, t).count() === 2L,
      "an already-committed batch id skips before alignment")
  }

  test("graft streaming SINK: Complete mode replaces the table per " +
      "batch atomically; Update mode is rejected at start") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files.createTempDirectory("graft_sinkc").toString
    val t = s"$dir/table"
    val mem = MemoryStream[(Long, String)]
    val agg = mem.toDF().toDF("k", "v")
      .groupBy(col("v")).agg(sum(col("k")).as("total"))
    val q = agg.writeStream.outputMode("complete").format("graft")
      .option("path", t).option("createIfMissing", "true")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      mem.addData((1L, "a"))
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, t).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("a" -> 1L))
      mem.addData((2L, "a"), (3L, "b"))
      q.processAllAvailable()
      assert(SnapshotTable.read(spark, t).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap ===
        Map("a" -> 3L, "b" -> 3L),
        "each complete batch must REPLACE, not append")
      // the previous complete state stays time-travelable (v2 was the
      // first non-empty replace; v1 is the bootstrap)
      assert(SnapshotTable.read(spark, t,
        version = Some(2L)).count() === 1L)
    } finally q.stop()
    intercept[Exception] {
      mem.toDF().toDF("k", "v").groupBy(col("v")).agg(count(lit(1)))
        .writeStream.outputMode("update").format("graft")
        .option("path", s"$dir/t2")
        .option("checkpointLocation", s"$dir/ckpt2").start()
    }
  }

  test("change-feed rate control: maxVersionsPerBatch drains a " +
      "backlog in bounded micro-batches whose union equals the " +
      "uncapped diff, and keeps tailing live commits") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val dir = java.nio.file.Files
      .createTempDirectory("graft_rate").toString
    val tbl = s"$dir/src"
    SnapshotTable.create(spark, tbl,
      Seq((0L, "seed")).toDF("k", "v"), numFiles = 1) // v1
    // a 5-version backlog: v2..v6 committed while no stream is running
    (1 to 5).foreach(i => SnapshotTable.append(spark, tbl,
      Seq((i.toLong, s"r$i")).toDF("k", "v")))
    val batches =
      scala.collection.mutable.ArrayBuffer.empty[Seq[(Long, String, String)]]
    def start() = spark.readStream.format("graft").option("path", tbl)
      .option("fromVersion", "1").option("maxVersionsPerBatch", "2")
      .load()
      .writeStream.option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .toSeq
        batches.synchronized { if (got.nonEmpty) batches += got }
        ()
      }.start()
    val q = start()
    try q.processAllAvailable() finally q.stop()
    // ceil(5 backlog versions / cap 2) = 3 bounded catch-up batches —
    // never one unbounded drain
    assert(batches.size === 3,
      s"expected 3 capped catch-up micro-batches, got ${batches.size}")
    assert(batches.forall(_.nonEmpty))
    // the capped batches' union is EXACTLY the uncapped v1->v6 diff
    val uncapped = SnapshotTable.changesBetween(spark, tbl, 1L, 6L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(batches.flatten.sorted === uncapped)
    // caught up: a live commit still arrives (the clamp anchors on the
    // last handed-out version, not a stale base) — restart on the SAME
    // checkpoint resumes from the committed offset, no replay
    SnapshotTable.append(spark, tbl, Seq((9L, "tail")).toDF("k", "v"))
    batches.clear()
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(batches.size === 1 &&
      batches.head.map(x => (x._1, x._2)) === Seq((9L, "tail")),
      s"restart must process exactly the missed tail, got $batches")
    // BYTES cap: with a 1-byte budget every version's added files
    // exceed it, so the walk degenerates to one version per batch —
    // the union still equals the uncapped diff and a single oversized
    // commit always drains
    batches.clear()
    val qb = spark.readStream.format("graft").option("path", tbl)
      .option("fromVersion", "1").option("maxBytesPerBatch", "1")
      .load()
      .writeStream.option("checkpointLocation", s"$dir/ckptb")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .toSeq
        batches.synchronized { if (got.nonEmpty) batches += got }
        ()
      }.start()
    try qb.processAllAvailable() finally qb.stop()
    assert(batches.size === 6,
      s"1-byte budget = one version per batch (6 pending), got " +
        s"${batches.size}")
    val uncappedAll = SnapshotTable.changesBetween(spark, tbl, 1L, 7L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(batches.flatten.sorted === uncappedAll)
    // fromTimestamp (Delta's startingTimestamp through the shared
    // commit-time resolution): "I hold the state as of ts — stream me
    // what changed SINCE" = the feed starts after the version the
    // timestamp resolves to
    val hfs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    (1L to 7L).foreach(v => hfs.setTimes(
      new org.apache.hadoop.fs.Path(s"$tbl/_manifests/v$v.manifest"),
      t0 + (v - 1) * 60000L, -1))
    val asSql = java.time.Instant.ofEpochMilli(t0 + 150000L)
      .atZone(SnapshotTable.sessionZone(spark))
      .toLocalDateTime.toString.replace('T', ' ')
    batches.clear()
    val qt = spark.readStream.format("graft").option("path", tbl)
      .option("fromTimestamp", asSql).load()
      .writeStream.option("checkpointLocation", s"$dir/ckptt")
      .foreachBatch { (df: DataFrame, _: Long) =>
        val got = df.collect()
          .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
          .toSeq
        batches.synchronized { if (got.nonEmpty) batches += got }
        ()
      }.start()
    try qt.processAllAvailable() finally qt.stop()
    // t0+150s resolves to v3 — the feed emits exactly v4..v7
    val tail37 = SnapshotTable.changesBetween(spark, tbl, 3L, 7L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq.sorted
    assert(batches.flatten.sorted === tail37,
      "fromTimestamp must start the feed after the resolved version")
  }

  test("rate-capped change feed: the catch-up anchor persists in the " +
      "checkpoint metadata dir, so a restart whose last batch was " +
      "fully committed (no getBatch replay) cannot regress the offset") {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_anchor").toString
    val tbl = s"$dir/src"
    SnapshotTable.create(spark, tbl,
      Seq((0L, "seed")).toDF("k", "v"), numFiles = 1) // v1
    (1 to 4).foreach(i => SnapshotTable.append(spark, tbl,
      Seq((i.toLong, s"r$i")).toDF("k", "v"))) // v2..v5
    val schema = SnapshotTable.read(spark, tbl).schema
      .add("change_type", org.apache.spark.sql.types.StringType)
    // a prior run delivered and committed through v4, persisting its
    // anchor, then stopped with nothing in flight
    val meta = s"$dir/meta"
    val mp = new org.apache.hadoop.fs.Path(meta, "graft-rate-anchor")
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = hfs.create(mp, true)
    out.write("4".getBytes("UTF-8")); out.close()
    // the engine does NOT replay getBatch in that restart shape, so an
    // in-memory-only anchor would sit at base: base+cap = 2 < the
    // committed 4, and committing that regressed offset would re-emit
    // (2, 4] later. The persisted anchor must win: first offer is v5.
    val src = new org.apache.spark.sql.GraftChangeSource(spark, tbl,
      1L, schema, Some(1L), None, Some(meta))
    val off = src.getOffset
    assert(off.isDefined && off.get.json.trim.toLong === 5L,
      s"restart getOffset must resume from the persisted anchor, " +
        s"got $off")
    // a FRESH capped source (no anchor file yet) anchors at base —
    // nothing is committed, so nothing can regress
    val meta2 = s"$dir/meta2"
    val src2 = new org.apache.spark.sql.GraftChangeSource(spark, tbl,
      1L, schema, Some(1L), None, Some(meta2))
    assert(src2.getOffset.get.json.trim.toLong === 2L)
    // getBatch seats AND persists the anchor for the next restart
    src2.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    val src3 = new org.apache.spark.sql.GraftChangeSource(spark, tbl,
      1L, schema, Some(1L), None, Some(meta2))
    assert(src3.getOffset.get.json.trim.toLong === 3L,
      "the anchor written by getBatch must seed a restarted source")
  }

  test("rate-anchor writes are atomic: tmp+rename replaces an existing " +
      "anchor with no residue, rewrites advance it in place, and a " +
      "corrupt (torn) anchor degrades to the replay path, not a crash") {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_anchor_atomic").toString
    val tbl = s"$dir/src"
    SnapshotTable.create(spark, tbl,
      Seq((0L, "seed")).toDF("k", "v"), numFiles = 1) // v1
    (1 to 3).foreach(i => SnapshotTable.append(spark, tbl,
      Seq((i.toLong, s"r$i")).toDF("k", "v"))) // v2..v4
    val schema = SnapshotTable.read(spark, tbl).schema
      .add("change_type", org.apache.spark.sql.types.StringType)
    val meta = s"$dir/meta"
    val src = new org.apache.spark.sql.GraftChangeSource(spark, tbl,
      1L, schema, Some(1L), None, Some(meta))
    // two getBatch calls: the second REPLACES the existing anchor file
    // (rename-over-existing on the local FS takes the delete+rename
    // fallback) — the final contents must be the latest version and no
    // .tmp- residue may remain in the metadata dir
    src.getBatch(Some(LongOffset(1L)), LongOffset(2L))
    src.getBatch(Some(LongOffset(2L)), LongOffset(3L))
    val mp = new org.apache.hadoop.fs.Path(meta, "graft-rate-anchor")
    val hfs = mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = hfs.open(mp)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(body.trim === "3",
      s"anchor must hold the latest delivered version, got '$body'")
    val residue = hfs.listStatus(new org.apache.hadoop.fs.Path(meta))
      .map(_.getPath.getName).filter(_.contains(".tmp-"))
    assert(residue.isEmpty,
      s"tmp files must be renamed away, found ${residue.mkString(",")}")
    // a restart seeds from the replaced anchor
    val src2 = new org.apache.spark.sql.GraftChangeSource(spark, tbl,
      1L, schema, Some(1L), None, Some(meta))
    assert(src2.getOffset.get.json.trim.toLong === 4L)
    // torn/corrupt anchor (unparseable bytes): loadAnchor must return
    // None — the source degrades to the base anchor (engine-replay
    // recovery), never throws
    val out = hfs.create(mp, true)
    out.write(Array[Byte](0x7f, 0x00, 0x42)); out.close()
    val src3 = new org.apache.spark.sql.GraftChangeSource(spark, tbl,
      1L, schema, Some(1L), None, Some(meta))
    assert(src3.getOffset.get.json.trim.toLong === 2L,
      "a corrupt anchor must fall back to base+cap (replay path)")
  }

  test("STREAMING WAP: a branch sink commits every micro-batch to the " +
      "branch (exactly-once there), main isolated until publish; " +
      "replays skip on the BRANCH's batch-id mark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    import graft.sources.{GraftDataSource, SnapshotTable}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_branch_sink").toString
    val t = s"$dir/table"
    SnapshotTable.create(spark, t,
      Seq((0L, "seed")).toDF("k", "v"), numFiles = 1)
    SnapshotTable.createBranch(spark, t, "wap")
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("k", "v").writeStream.format("graft")
      .option("path", t).option("branch", "wap")
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      mem.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      mem.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    assert(SnapshotTable.read(spark, t).count() === 1L,
      "main must not see streamed branch batches")
    assert(SnapshotTable.readBranch(spark, t, "wap").count() === 4L)
    // replay of a committed id skips on the BRANCH mark
    val v = SnapshotTable.currentVersion(spark, t)
    val sink = new GraftDataSource.GraftSink(spark, t, "sink",
      complete = false, createIfMissing = false,
      branch = Some("wap"))
    sink.addBatch(1L, Seq((9L, "dup")).toDF("k", "v"))
    assert(SnapshotTable.readBranch(spark, t, "wap").count() === 4L,
      "a replayed batch id must skip on the branch")
    assert(SnapshotTable.currentVersion(spark, t) === v)
    // audit passed -> publish lands everything atomically on main
    SnapshotTable.publishBranch(spark, t, "wap")
    assert(SnapshotTable.read(spark, t).count() === 4L)
    // createIfMissing + branch is refused at sink build
    intercept[Exception] {
      mem.toDF().toDF("k", "v").writeStream.format("graft")
        .option("path", s"$dir/t2").option("branch", "x")
        .option("createIfMissing", "true")
        .option("checkpointLocation", s"$dir/ckpt2").start()
    }
  }

  test("branch CDF source: readStream option(branch) tails the staged " +
      "sequence, survives publish(retainBranch) with no re-emission, " +
      "and a dropped branch fails loudly") {
    import spark.implicits._
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_branch_src").toString
    val t = s"$dir/table"
    SnapshotTable.create(spark, t,
      Seq((0L, "seed")).toDF("k", "v"), numFiles = 1)
    SnapshotTable.createBranch(spark, t, "wap")
    val qn = s"branch_audit_${System.nanoTime()}"
    val q = spark.readStream.format("graft").option("branch", "wap")
      .load(t)
      .writeStream.format("memory").queryName(qn)
      .option("checkpointLocation", s"$dir/ckpt").start()
    try {
      q.processAllAvailable()
      assert(spark.table(qn).count() === 1L,
        "the first batch is the branch head as inserts")
      SnapshotTable.appendToBranch(spark, t, "wap",
        Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      q.processAllAvailable()
      assert(spark.table(qn)
        .filter(col("change_type") === "insert").count() === 3L)
      // publish with retain: the stream crosses the re-seed (the kept
      // prior head makes the diff computable) with an EMPTY batch
      SnapshotTable.publishBranch(spark, t, "wap",
        cherryPick = false, retainBranch = true)
      q.processAllAvailable()
      assert(spark.table(qn).count() === 3L,
        "a fast-forward publish must re-emit nothing")
      // the retained branch keeps streaming, exactly once
      SnapshotTable.appendToBranch(spark, t, "wap",
        Seq((3L, "c")).toDF("k", "v"))
      q.processAllAvailable()
      val ks = spark.table(qn)
        .filter(col("change_type") === "insert")
        .select("k").as[Long].collect().sorted
      assert(ks.toSeq === Seq(0L, 1L, 2L, 3L),
        s"exactly-once across the publish, got ${ks.mkString(",")}")
      // a dropped branch fails LOUDLY at the next poll
      SnapshotTable.dropBranch(spark, t, "wap")
      val e = intercept[Exception] { q.processAllAvailable() }
      def causes(x: Throwable): Seq[Throwable] =
        if (x == null) Nil else x +: causes(x.getCause)
      assert(causes(e).exists(c => Option(c.getMessage)
        .exists(_.contains("no longer exists"))),
        s"expected the dropped-branch refusal, got $e")
    } finally q.stop()
    // rate/version options are version-domain: refused with branch
    intercept[Exception] {
      spark.readStream.format("graft").option("branch", "wap")
        .option("fromVersion", "1").load(t)
    }
  }
}
