package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming re-expression of the reference's incremental-append
  * semantics (SURVEY §2.9): the reference emulates a stream with a daily
  * Airflow batch + consume-once `COPY INTO ... PURGE=TRUE`
  * (`/root/reference/dags/sp500_dag.py.py:324,353,378`). A file stream with
  * `Trigger.AvailableNow` + checkpointing subsumes that contract —
  * exactly-once file consumption without deleting inputs — and the same
  * code scales to a continuous micro-batch trigger on a cluster.
  */
object EventsStreaming {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Watermarked tumbling-window aggregation over a parquet file stream of
    * the driver's events fixture. File streams need an explicit schema, so
    * it is derived from the actual parquet footer (one metadata-only batch
    * read) rather than hardcoded — the fixture's `ts` physical type has
    * changed across driver versions (TIMESTAMP(NANOS) read as LONG under
    * the legacy flag; currently µs-without-timezone → TIMESTAMP_NTZ), and
    * a schema that disagrees with the footer makes the stream silently
    * produce zero usable rows. Both variants are normalized exactly like
    * [[graft.Tables.events]], then cast to TIMESTAMP: Spark's event-time
    * watermark requires an LTZ column (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE
    * on NTZ), and with the engine's fixed UTC session timezone the cast is
    * value-preserving.
    */
  def hourlyCounts(spark: SparkSession, inputDir: String): DataFrame = {
    // footer-derived when files exist; the static schema keeps the stream
    // DEFINABLE over a directory whose first file has not landed yet (the
    // normal file-streaming pattern — an eager-only inference would throw
    // at definition time)
    val footerSchema =
      try spark.read
        .option("pathGlobFilter", "events.parquet").parquet(inputDir).schema
      catch { case _: org.apache.spark.sql.AnalysisException => eventSchema }
    val raw = spark.readStream
      .schema(footerSchema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(inputDir)
    val events =
      if (footerSchema("ts").dataType == LongType)
        raw.withColumn("ts", timestamp_micros( // floor division — see Tables.events
          expr("ts DIV 1000 - (CASE WHEN ts % 1000 < 0 THEN 1 ELSE 0 END)")))
      else raw.withColumn("ts", col("ts").cast(TimestampType))
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
  }

  /** Run a streaming query to completion over the currently-available files
    * (consume-once batch upgrade path), results to an in-memory table.
    */
  def runAvailableNow(df: DataFrame, queryName: String, checkpoint: String): Unit = {
    val q = df.writeStream
      .outputMode(OutputMode.Append)
      .format("memory")
      .queryName(queryName)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-static dimension enrichment: every micro-batch joins against
    * the broadcast static side — no streaming state, and the stream side
    * never shuffles. The SAME function serves batch frames (the batch twin
    * is oracled as `q_events_enriched`), which is the point: enrichment
    * logic written once runs in both modes.
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left_outer")

  /** Watermarked stream-stream attribution join over the standard events
    * schema (user_id, ts, event_id): each `purchases` event is matched to
    * the `views` events of the same user within the trailing `horizon`.
    *
    * Both inputs carry watermarks and the join predicate bounds the
    * event-time distance, so each side's join state is capped at
    * (arrival rate × (horizon + watermark delay)) rows — the condition
    * Spark needs to evict state; an unbounded stream-stream join is the
    * canonical streaming OOM. On batch frames `withWatermark` is a no-op
    * and this is a plain interval join (batch twin oracled as
    * `q_event_attribution`).
    */
  def attributionJoin(views: DataFrame, purchases: DataFrame,
      horizon: String = "1 hour",
      watermarkDelay: String = "1 hour"): DataFrame = {
    val v = views
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
        col("event_id").as("view_id"))
      .withWatermark("view_ts", watermarkDelay)
    val p = purchases
      .select(col("user_id").as("p_user"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", watermarkDelay)
    p.join(v,
      col("v_user") === col("p_user") &&
        col("view_ts") <= col("purchase_ts") &&
        col("view_ts") > col("purchase_ts") - expr(s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("purchase_ts"), col("p_user").as("user_id"),
        col("view_id"), col("view_ts"))
  }

  final case class FunnelEv(user_id: Long, event_type: String, ts: java.sql.Timestamp)
  /** Compacted funnel state, timestamps in epoch micros. `Long.MaxValue`
    * is the "absent" sentinel for `minView`; `maxSeen` drives the quiet
    * timeout.
    */
  final case class FunnelState(minView: Long, clicks: List[Long],
      purchases: List[Long], maxSeen: Long)
  final case class FunnelOut(user_id: Long, t_view: Option[java.sql.Timestamp],
      t_click: Option[java.sql.Timestamp], t_purchase: Option[java.sql.Timestamp])

  private def toMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
  private def fromMicros(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming ordered-funnel (view → click-after-view →
    * purchase-after-click): per-user milestones identical to the batch twin
    * (`q_funnel_users`), emitted once the user has been quiet for `quietMs`
    * of EVENT time. Exact under out-of-order arrival WITHIN the watermark —
    * not by buffering the user's history, but by a compacted monotone
    * sufficient statistic:
    *
    *  - `t_view` is a plain min — one scalar;
    *  - a click above the current first-qualifying click can never become
    *    the milestone (the qualifying set only grows DOWNWARD as earlier
    *    views arrive), so only clicks ≤ that candidate are kept;
    *  - a click at or below BOTH the current `t_view` and the watermark is
    *    provably dead (it could only qualify via a future view strictly
    *    below it, and the watermark forbids such arrivals) — dropped;
    *  - purchases get the same dominance rule against the first-qualifying
    *    purchase.
    *
    * State per user is therefore O(pre-conversion candidates), not
    * O(events) — the difference between a funnel that survives a month of
    * stream at 100 TB and one that OOMs. A user who re-appears after
    * emission starts a fresh funnel (one row per quiet period — same
    * horizon caveat as [[sessionizeStream]]).
    */
  def funnelStream(events: Dataset[FunnelEv], quietMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[FunnelOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[FunnelOut] = Encoders.product[FunnelOut]
    implicit val stEnc: org.apache.spark.sql.Encoder[FunnelState] = Encoders.product[FunnelState]
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    val NoView = Long.MaxValue
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[FunnelEv], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val tView = if (st.minView == NoView) None else Some(st.minView)
            val tClick = tView.flatMap(v => st.clicks.filter(_ > v).minOption)
            val tPurchase = tClick.flatMap(c => st.purchases.filter(_ > c).minOption)
            Iterator.single(FunnelOut(userId, tView.map(fromMicros),
              tClick.map(fromMicros), tPurchase.map(fromMicros)))
          } else {
            val evs = rows.toSeq
            if (evs.isEmpty) Iterator.empty
            else {
              val prev = state.getOption.getOrElse(
                FunnelState(NoView, Nil, Nil, Long.MinValue))
              val wmMicros = state.getCurrentWatermarkMs() * 1000L
              val us = evs.map(e => e.event_type -> toMicros(e.ts))
              val minView = (prev.minView +:
                us.collect { case ("view", t) => t }).min
              val clicks0 = (prev.clicks ++ us.collect { case ("click", t) => t })
                .distinct.sorted
              val purchases0 = (prev.purchases ++
                us.collect { case ("purchase", t) => t }).distinct.sorted
              // first-qualifying candidates under the CURRENT milestones
              val qc = clicks0.find(_ > minView)
              val clicks = clicks0
                .filter(c => qc.forall(c <= _))               // dominance
                .filter(c => !(c <= minView && c <= wmMicros)) // provably dead
              val qp = purchases0.find(p => qc.exists(p > _))
              val purchases = purchases0
                .filter(p => qp.forall(p <= _)) // dominance
                // provably dead: a purchase at or below the watermark with
                // no retained click strictly below it can never gain a
                // qualifying click (future clicks arrive >= wm >= p) —
                // without this, a never-converting user's state grows
                // O(#purchases), the exact OOM the click rule prevents
                .filter(p => !(p <= wmMicros && !clicks.exists(_ < p)))
              val maxSeen = (prev.maxSeen +: us.map(_._2)).max
              val st = FunnelState(minView, clicks, purchases, maxSeen)
              state.update(st)
              // a very late (but in-watermark) batch could compute a quiet
              // deadline already behind the watermark — clamp forward, or
              // Spark rejects the timeout as non-monotone
              state.setTimeoutTimestamp(Math.max(
                state.getCurrentWatermarkMs() + 1,
                Math.floorDiv(maxSeen, 1000L) + quietMs))
              Iterator.empty
            }
          }
      }
  }

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  final case class SessionOut(user_id: Long, n_events: Long, start: java.sql.Timestamp,
      end: java.sql.Timestamp)

  /** Custom stateful sessionization with `flatMapGroupsWithState`: a user's
    * session is emitted once the EVENT-TIME watermark passes their last
    * event + gap. Event-time timeouts make the operator deterministic (no
    * wall-clock dependence) and replayable from a checkpoint — the correct
    * semantics for late-data streams at scale. Batch twin:
    * [[graft.ops.Sessionize]].
    *
    * Memory bound: one key's events WITHIN ONE MICRO-BATCH are buffered and
    * sorted on the executor (flatMapGroupsWithState provides no secondary
    * sort). That is the operator's skew exposure — cap micro-batch size at
    * the source (`maxFilesPerTrigger` / rate limits) so a bot-grade hot key
    * stays bounded per batch; cross-batch state is one SessionOut per key
    * regardless.
    */
  def sessionizeStream(events: Dataset[Ev], gapMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SessionOut] = {
    implicit val outEnc: org.apache.spark.sql.Encoder[SessionOut] = Encoders.product[SessionOut]
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] = Encoders.scalaLong
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionOut, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Ev], state: GroupState[SessionOut]) =>
          if (state.hasTimedOut) {
            val out = state.get
            state.remove()
            Iterator.single(out)
          } else {
            val evs = rows.toSeq.sortBy(_.ts.getTime)
            if (evs.isEmpty) Iterator.empty
            else {
              // Fold events into sessions, splitting whenever the gap to the
              // running session end exceeds gapMs — events inside one
              // micro-batch (or arriving before the event-time timeout
              // fires) must NOT collapse into a single session; this keeps
              // the operator equivalent to the batch twin
              // [[graft.ops.Sessionize]]. Sessions closed by an in-batch
              // split are emitted now; the trailing open session waits for
              // its event-time timeout.
              val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
              var open: Option[SessionOut] = state.getOption
              evs.foreach { e =>
                open = open match {
                  case Some(s) if e.ts.getTime - s.end.getTime > gapMs =>
                    closed += s
                    Some(SessionOut(userId, 1L, e.ts, e.ts))
                  case Some(s) =>
                    // max() guards late-but-in-watermark events from moving
                    // the session end backwards
                    val end = if (e.ts.getTime > s.end.getTime) e.ts else s.end
                    Some(SessionOut(userId, s.n_events + 1L, s.start, end))
                  case None =>
                    Some(SessionOut(userId, 1L, e.ts, e.ts))
                }
              }
              val last = open.get
              state.update(last)
              state.setTimeoutTimestamp(last.end.getTime + gapMs)
              closed.iterator
            }
          }
      }
  }
}
