package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("stateful sessionization stream: sessions emitted on idle timeout") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import EventsStreaming.{Ev, SessionOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Ev]
    val sessions = EventsStreaming.sessionizeStream(input.toDS(), gapMs = 60000L)
    val dir = java.nio.file.Files.createTempDirectory("sess").toString
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("sess_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // batch 1: user 7's session (2 events 10s apart)
      input.addData(
        Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
        Ev(2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:10"), 7L))
      q.processAllAvailable()
      // batch 2 advances the event-time watermark past user 7's
      // last-event + gap → the timeout fires and flushes the session
      input.addData(Ev(3L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 8L))
      q.processAllAvailable()
      input.addData(Ev(4L, java.sql.Timestamp.valueOf("2024-01-03 10:00:00"), 9L))
      q.processAllAvailable()
      val out = spark.table("sess_out").as[SessionOut].collect()
      assert(out.exists(s => s.user_id == 7L && s.n_events == 2L),
        s"expected user 7 session with 2 events, got ${out.toSeq}")
    } finally q.stop()
  }

  test("stateful sessionization stream: in-batch gap splits the session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import EventsStreaming.{Ev, SessionOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Ev]
    val sessions = EventsStreaming.sessionizeStream(input.toDS(), gapMs = 60000L)
    val dir = java.nio.file.Files.createTempDirectory("sess2").toString
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("sess_split_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // ONE batch: two events 2 minutes apart (> 60s gap) must become TWO
      // sessions, not one — the first closes by in-batch split immediately
      input.addData(
        Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
        Ev(2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:10"), 7L),
        Ev(3L, java.sql.Timestamp.valueOf("2024-01-01 10:02:30"), 7L))
      q.processAllAvailable()
      val split = spark.table("sess_split_out").as[SessionOut].collect()
      assert(split.exists(s => s.user_id == 7L && s.n_events == 2L &&
        s.end == java.sql.Timestamp.valueOf("2024-01-01 10:00:10")),
        s"expected first session (2 events) closed by in-batch gap split, got ${split.toSeq}")
      // advance the watermark so the trailing open session times out too
      input.addData(Ev(4L, java.sql.Timestamp.valueOf("2024-01-02 10:00:00"), 8L))
      q.processAllAvailable()
      val all = spark.table("sess_split_out").as[SessionOut].collect()
      assert(all.exists(s => s.user_id == 7L && s.n_events == 1L &&
        s.start == java.sql.Timestamp.valueOf("2024-01-01 10:02:30")),
        s"expected second session (1 event) after timeout, got ${all.toSeq}")
    } finally q.stop()
  }

  test("streaming count-min sketch equals the batch build with d×w state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val b1 = Seq("alpha", "beta", "alpha", "gamma")
    val b2 = Seq("alpha", "delta", "beta", "beta")
    val input = MemoryStream[String]
    // the SAME build plan as batch, maintained incrementally: state is the
    // d×w cell table, never per-key
    val sketch = graft.ops.Sketch.countMinBuildWeighted(
      input.toDS().toDF("k").withColumn("one", lit(1L)), "k", "one",
      depth = 4, width = 64)
    val dir = java.nio.file.Files.createTempDirectory("cms").toString
    val q = sketch.writeStream
      .outputMode(OutputMode.Complete)
      .format("memory").queryName("cms_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      val streamed = spark.table("cms_out")
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      val batch = graft.ops.Sketch.countMinBuildWeighted(
        (b1 ++ b2).toDF("k").withColumn("one", lit(1L)), "k", "one",
        depth = 4, width = 64)
        .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(streamed == batch,
        s"streamed sketch != batch sketch: ${streamed.toSeq.diff(batch.toSeq)}")
    } finally q.stop()
  }

  test("streaming funnel: out-of-order arrivals re-qualify earlier clicks") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import EventsStreaming.{FunnelEv, FunnelOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val t = java.sql.Timestamp.valueOf(_: String)
    val input = MemoryStream[FunnelEv]
    val funnel = EventsStreaming.funnelStream(input.toDS(), quietMs = 60000L,
      watermarkDelay = "2 hours")
    val dir = java.nio.file.Files.createTempDirectory("funnel").toString
    val q = funnel.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      // batch 1: click arrives BEFORE any view precedes it — not qualifying
      // yet, but must be retained (a future earlier view can activate it)
      input.addData(
        FunnelEv(1L, "view", t("2024-01-01 10:30:00")),
        FunnelEv(1L, "click", t("2024-01-01 10:10:00")))
      q.processAllAvailable()
      // batch 2: an EARLIER view lowers t_view below the buffered click,
      // which becomes the milestone; the 10:05 purchase precedes it
      input.addData(
        FunnelEv(1L, "view", t("2024-01-01 10:00:00")),
        FunnelEv(1L, "purchase", t("2024-01-01 10:05:00")))
      q.processAllAvailable()
      // batch 3: the first purchase after the click milestone
      input.addData(FunnelEv(1L, "purchase", t("2024-01-01 10:20:00")))
      q.processAllAvailable()
      // batch 4: far-future event advances the watermark → quiet timeout
      input.addData(FunnelEv(99L, "view", t("2024-01-02 12:00:00")))
      q.processAllAvailable()
      val out = spark.table("funnel_out").as[FunnelOut].collect()
      assert(out.length == 1, s"expected exactly user 1 flushed, got ${out.toSeq}")
      val f = out.head
      assert(f.user_id == 1L)
      assert(f.t_view.contains(t("2024-01-01 10:00:00")), s"t_view: ${f.t_view}")
      assert(f.t_click.contains(t("2024-01-01 10:10:00")), s"t_click: ${f.t_click}")
      assert(f.t_purchase.contains(t("2024-01-01 10:20:00")), s"t_purchase: ${f.t_purchase}")
    } finally q.stop()
  }

  test("streaming funnel equals the batch twin on the real events table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import EventsStreaming.{FunnelEv, FunnelOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val events = graft.Tables.events(spark, sf)
      .select(col("user_id"), col("event_type"), col("ts"))
    val evs = events.as[FunnelEv].collect().toSeq
    val flushTs = new java.sql.Timestamp(
      evs.map(_.ts.getTime).max + 7L * 86400000L)

    val input = MemoryStream[FunnelEv]
    val funnel = EventsStreaming.funnelStream(input.toDS(), quietMs = 1000L)
    val dir = java.nio.file.Files.createTempDirectory("funnel_eq").toString
    val q = funnel.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("funnel_eq_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      input.addData(evs) // one batch: first-batch watermark admits everything
      q.processAllAvailable()
      input.addData(FunnelEv(-1L, "view", flushTs)) // advance wm → flush all
      q.processAllAvailable()
      val got = spark.table("funnel_eq_out").as[FunnelOut].collect()
        .map(f => f.user_id -> ((f.t_view, f.t_click, f.t_purchase))).toMap

      // expected comes from the DRIVER query itself (q_funnel_users is the
      // documented batch reference) so stream and oracle-gated batch can
      // never drift apart silently; its 9999-12-31 sentinel maps to None
      val sentinel = java.sql.Timestamp.valueOf("9999-12-31 00:00:00")
      def opt(t: java.sql.Timestamp): Option[java.sql.Timestamp] =
        if (t == sentinel) None else Some(t)
      val expected = graft.SparkEntry.queries("q_funnel_users")(spark, sf)
        .collect()
        .map(r => r.getLong(0) -> ((opt(r.getTimestamp(1)),
          opt(r.getTimestamp(2)), opt(r.getTimestamp(3))))).toMap

      assert(got.keySet == expected.keySet,
        s"user sets differ: ${got.keySet.diff(expected.keySet)} / ${expected.keySet.diff(got.keySet)}")
      expected.foreach { case (u, exp) =>
        assert(got(u) == exp, s"user $u: streaming ${got(u)} != batch $exp")
      }
    } finally q.stop()
  }

  test("stream sessionization equals the batch twin on the real events table") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import EventsStreaming.{Ev, SessionOut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val gapS = 86400L
    val events = graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id")).as[Ev].collect()
    val input = MemoryStream[Ev]
    val sessions = EventsStreaming.sessionizeStream(input.toDS(), gapMs = gapS * 1000L)
    val dir = java.nio.file.Files.createTempDirectory("sesseq").toString
    val q = sessions.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("sess_eq_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      input.addData(events.toIndexedSeq)
      q.processAllAvailable()
      // a far-future sentinel advances the watermark past every real
      // session's end + gap, flushing all open state
      val maxTs = events.map(_.ts.getTime).max
      input.addData(Ev(-1L, new java.sql.Timestamp(maxTs + 10 * gapS * 1000L), -1L))
      q.processAllAvailable()
      val streamed = spark.table("sess_eq_out").as[SessionOut]
        .filter(_.user_id >= 0)
        .collect()
        .groupBy(_.user_id)
        .map { case (u, ss) => u -> (ss.length.toLong, ss.map(_.n_events).sum) }
      val batch = graft.ops.Sessionize.userSessionStats(
        graft.Tables.events(spark, sf), "user_id", "ts", "event_id", gapS)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(streamed == batch,
        s"stream/batch sessionization diverged: " +
          s"${(streamed.toSet -- batch.toSet).take(3)} vs ${(batch.toSet -- streamed.toSet).take(3)}")
    } finally q.stop()
  }

  test("stream-static enrichment: dim attributes joined per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val dim = Seq((7L, "GOLD"), (8L, "SILVER")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Long, Double)]
    val enriched = EventsStreaming.enrichStream(
      input.toDS().toDF("event_id", "user_id", "value"), dim, Seq("user_id"))
    val dir = java.nio.file.Files.createTempDirectory("enrich").toString
    val q = enriched.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("enrich_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      input.addData((1L, 7L, 1.0), (2L, 9L, 2.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .select("event_id", "tier").as[(Long, Option[String])].collect().toMap
      assert(out(1L).contains("GOLD"))
      assert(out(2L).isEmpty, "unmatched user keeps a null dim attribute")
    } finally q.stop()
  }

  test("stream-stream attribution join matches the batch twin semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val t = java.sql.Timestamp.valueOf(_: String)
    val views = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long)]
    def named(s: MemoryStream[(Long, java.sql.Timestamp, Long)]) =
      s.toDS().toDF("event_id", "ts", "user_id")
    val joined = EventsStreaming.attributionJoin(named(views), named(purchases))
    val dir = java.nio.file.Files.createTempDirectory("attr").toString
    val q = joined.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("attr_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      views.addData(
        (10L, t("2024-01-01 09:30:00"), 7L),  // in horizon
        (11L, t("2024-01-01 08:30:00"), 7L),  // too old (>1h before)
        (12L, t("2024-01-01 09:45:00"), 8L))  // other user
      purchases.addData((20L, t("2024-01-01 10:00:00"), 7L))
      q.processAllAvailable()
      val out = spark.table("attr_out")
        .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
      assert(out == Set((20L, 10L)),
        s"only the same-user in-horizon view attributes, got $out")
    } finally q.stop()
  }

  test("native session_window works on a stream with watermark-closed sessions") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import EventsStreaming.Ev
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Ev]
    val agg = input.toDS()
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), "1 minute"))
      .agg(count(lit(1)).as("n_events"))
    val dir = java.nio.file.Files.createTempDirectory("sesswin").toString
    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("memory").queryName("sesswin_out")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    try {
      input.addData(
        Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7L),
        Ev(2L, java.sql.Timestamp.valueOf("2024-01-01 10:00:30"), 7L), // merges
        Ev(3L, java.sql.Timestamp.valueOf("2024-01-01 10:05:00"), 7L)) // new session
      q.processAllAvailable()
      // advance the watermark far past both sessions to close them
      input.addData(Ev(4L, java.sql.Timestamp.valueOf("2024-01-02 00:00:00"), 8L))
      q.processAllAvailable()
      val out = spark.table("sesswin_out")
        .select(col("user_id"), col("n_events")).as[(Long, Long)].collect().toSeq
      assert(out.count(_ == (7L, 2L)) == 1, s"merged session missing: $out")
      assert(out.count(_ == (7L, 1L)) == 1, s"split session missing: $out")
    } finally q.stop()
  }

  test("availableNow file stream: hourly windowed aggregation over events") {
    // the SHIPPED function against the REAL driver fixture (nanos
    // timestamps): hourlyCounts reads ts as long and converts exactly
    // like Tables.events
    val dir = java.nio.file.Files.createTempDirectory("evstream").toString
    val stream = EventsStreaming.hourlyCounts(spark, sf)
    EventsStreaming.runAvailableNow(stream, "hourly_test", s"$dir/ckpt")
    // append mode emits only watermark-closed windows; all but the last
    // hour of a static file are closed, so this must be non-trivial
    val out = spark.table("hourly_test")
    assert(out.count() > 0)
    // cross-check against the batch equivalent (closed windows only)
    val batch = graft.Tables.events(spark, sf)
      .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val joined = out.select(col("window.start").as("h"), col("event_type"), col("n"))
      .join(batch.withColumnRenamed("n", "n_batch"), Seq("h", "event_type"))
    assert(joined.where(col("n") =!= col("n_batch")).count() == 0)
  }
}
