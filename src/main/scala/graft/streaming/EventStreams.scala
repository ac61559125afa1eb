package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Structured Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props) — the north-star
  * streaming extension (SURVEY.md §2.12/§7: the reference is
  * batch-only; this is additive).
  *
  * Every transform here is expressed once and runs under BOTH
  * `spark.read` (batch — how the DuckDB oracle checks it) and
  * `spark.readStream` (incremental with watermarked state eviction) —
  * the core Structured Streaming design point. Specs drive the
  * streaming path with MemoryStream and assert it converges to the
  * batch answer.
  */
object EventStreams {

  /** Tumbling event-time windows with a watermark: per (window,
    * event_type) count + value sum. Watermarking bounds state at
    * scale: windows older than the watermark are finalized and
    * evicted instead of accumulating forever.
    */
  def tumblingTypeCounts(events: DataFrame, windowLen: String = "1 hour",
                         watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), round(col("sum_value"), 6).as("sum_value"))

  /** Sliding-window rate: 30-min slide over 1-hour windows, global
    * event rate. Overlapping windows are the one aggregation shape a
    * plain GROUP BY can't express.
    */
  def slidingRate(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("n"))

  /** Per-window Count-Min grid over the user stream — frequency
    * telemetry whose state is O(depth·width) PER WINDOW no matter how
    * many distinct users an hour carries (the per-(window, user)
    * groupBy this replaces keys state by the user domain). Works
    * unchanged on a batch frame (the st10 oracle face) and under
    * `readStream` — [[graft.expressions.CountMinAgg]] is a mergeable
    * aggregate, so each micro-batch folds its partial grid into the
    * window's state buffer and the final grid is byte-identical to
    * the batch one (converges in EventStreamsSpec); the watermark
    * finalizes and evicts old windows' grids.
    */
  def windowUserCms(events: DataFrame, depth: Int, width: Int,
                    windowLen: String = "1 hour",
                    watermark: String = "2 hours"): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge._
    val cms = column(graft.expressions.CountMinAgg(
      expression(col("user_id").cast("string")), depth, width)
      .toAggregateExpression())
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(cms.as("cms"), count(lit(1)).as("n_events"))
      .select(col("w.start").as("w_start"), col("cms"), col("n_events"))
  }

  /** Per-window LogLog registers over the user stream — distinct-user
    * telemetry whose state is O(m) longs PER WINDOW no matter how
    * many distinct users an hour carries (the per-(window, user)
    * COUNT(DISTINCT) this replaces keys state by the user domain —
    * exactly the unbounded-state shape streaming aggregation must
    * avoid). register(b) = max over the window's users of
    * (1 + leading zeros of the hash remainder): max() is order- and
    * duplicate-insensitive, so micro-batch partials fold into window
    * state and the registers converge byte-identically to this batch
    * face (EventStreamsSpec); the watermark evicts old windows.
    * Hash = the engine-wide 60-bit md5 slice; bucket = low
    * log₂(m) bits, rank from the bit length of the remainder —
    * every step a DuckDB-mirrorable builtin, so st12 pins the
    * registers through the hash gate like t25 does for documents.
    */
  def windowUserLogLog(events: DataFrame, logm: Int,
                       windowLen: String = "1 hour",
                       watermark: String = "2 hours"): DataFrame =
    events
      .select(col("ts"), graft.operators.Sketches
        .logLog(col("user_id").cast("string"), logm).as("ll"))
      .select(col("ts"), col("ll.bucket").as("bucket"),
        col("ll.rho").as("rho"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"), col("bucket"))
      .agg(max(col("rho")).as("register"))
      .select(col("w.start").as("w_start"), col("bucket"),
        col("register"))

  /** Per-window KL drift of the event-type mix against a pinned
    * reference distribution — t26's corpus-drift monitor
    * (per-source unigram KL) as a CONTINUOUS windowed face: the
    * reference model is fixed (types + smoothed reference
    * probabilities, e.g. last snapshot's mix), each event-time
    * window scores its own smoothed mix against it, and the
    * watermark finalizes + evicts windows. State per window is
    * |model| conditional sums plus the count — longs, not keyed by
    * any unbounded domain — so a 1000-executor deployment carries
    * O(windows × |model|) state no matter the event rate. Every
    * aggregate is a built-in `sum`/`count` (mergeable), so
    * micro-batch partials fold exactly and the stream face converges
    * to this batch face (EventStreamsSpec, default + RocksDB).
    * Smoothing/arithmetic mirror t26: ps = (c + 0.5)/(tot + 0.5·T),
    * KL = Σ ps·ln(ps/pc), rounded at 6 dp (only the final scalar).
    */
  def windowTypeKl(events: DataFrame, model: Seq[(String, Double)],
                   windowLen: String = "1 hour",
                   watermark: String = "2 hours"): DataFrame = {
    require(model.nonEmpty, "windowTypeKl: empty reference model")
    val halfT = 0.5 * model.size
    val cnts = model.zipWithIndex.map { case ((ty, _), i) =>
      sum(when(col("event_type") === ty, 1L).otherwise(0L)).as(s"c_$i")
    }
    val agged = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen).as("w"))
      .agg(cnts.head, (cnts.tail :+ count(lit(1)).as("tot")): _*)
    val kl = model.zipWithIndex.map { case ((_, pc), i) =>
      val ps = (col(s"c_$i") + lit(0.5)) / (col("tot") + lit(halfT))
      ps * log(ps / lit(pc))
    }.reduce(_ + _)
    agged.select(col("w.start").as("w_start"),
      col("tot").as("n_events"), round(kl, 6).as("kl"))
  }

  final case class SessionInput(user_id: Long, ts: Timestamp,
                                value: Double)
  final case class SessionState(start: Long, end: Long, n: Int,
                                sum: Double)
  final case class UserSession(user_id: Long, session_start: Timestamp,
                               session_end: Timestamp, n_events: Int,
                               sum_value: Double)

  /** Custom sessionization with `flatMapGroupsWithState`: per-user
    * sessions closed after `gapMs` of event-time silence, state
    * evicted via event-time timeout (watermark-driven — bounded state
    * at any scale). The batch oracle for the same semantics is
    * [[sessionizeBatch]].
    *
    * Convergence discipline: micro-batch rows and the open-session
    * state are merged as time INTERVALS (a row is a degenerate
    * interval), sorted by start, and clustered by the gap rule — the
    * standard interval-clustering identity with batch
    * gaps-and-islands. A naive `t - s.end <= gapMs` check against the
    * open session is vacuously true for any in-watermark event
    * EARLIER than the session (t ≤ s.end makes the difference
    * negative), which would glue a straggler belonging to its own
    * earlier session onto the open one; interval clustering instead
    * emits the earlier session separately and still bridges
    * straggler-chains into the open session when the gap rule truly
    * connects them — exactly what the batch face computes.
    */
  def sessionizeStream(events: Dataset[SessionInput],
                       gapMs: Long): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[SessionInput],
         state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(user, new Timestamp(s.start),
              new Timestamp(s.end), s.n, s.sum))
          } else {
            val intervals = (rows.map(r =>
                SessionState(r.ts.getTime, r.ts.getTime, 1, r.value)).toSeq
              ++ state.getOption).sortBy(s => (s.start, s.end))
            var out = List.empty[UserSession]
            var cur: Option[SessionState] = None
            intervals.foreach { iv =>
              cur match {
                case Some(s) if iv.start - s.end <= gapMs =>
                  cur = Some(SessionState(s.start,
                    math.max(s.end, iv.end), s.n + iv.n, s.sum + iv.sum))
                case Some(s) =>
                  out ::= UserSession(user, new Timestamp(s.start),
                    new Timestamp(s.end), s.n, s.sum)
                  cur = Some(iv)
                case None =>
                  cur = Some(iv)
              }
            }
            cur.foreach { s =>
              state.update(s)
              // a timeout at/below the watermark throws — if the open
              // session is already past due, close it next trigger
              state.setTimeoutTimestamp(math.max(s.end + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.reverseIterator
          }
      }
  }

  final case class PackInput(event_id: Long, event_type: String,
      ts: Timestamp, cost: Long)
  final case class PackCarry(tape: Long)
  final case class PackedEvent(event_id: Long, event_type: String,
      cost: Long, bin: Long, off: Long)

  /** Streaming dispatch packing — the ingest-side twin of
    * [[graft.operators.Splits.packSequences]]: per event_type,
    * events are laid head-to-tail on a cost tape in (ts, event_id)
    * order and chunked into `budget`-cost dispatch bins (bin of an
    * event = the bin its first cost unit lands in, off = its
    * position inside that bin) — how an ingest tier batches
    * variable-size records into fixed-size dispatch units. State is
    * ONE LONG per key (the carried tape position): never a buffered
    * row, never grows, bounded by |event types| at any scale —
    * the cheapest stateful operator in the engine. Within a
    * micro-batch rows sort by (ts, event_id); across batches the
    * correctness contract is per-key event-time-ordered arrival (the
    * same offset-carrying assumption every log consumer makes — a
    * straggler behind the carried tape would need its bin
    * re-opened, which dispatch semantics forbid). Batch mirror with
    * identical semantics: [[dispatchPackBatch]].
    */
  def dispatchPackStream(events: Dataset[PackInput],
                         budget: Long): Dataset[PackedEvent] = {
    require(budget > 0, "budget must be positive")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[PackCarry, PackedEvent](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (tpe: String, rows: Iterator[PackInput],
         state: GroupState[PackCarry]) =>
          var tape = state.getOption.map(_.tape).getOrElse(0L)
          val out = rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id))
            .map { r =>
              val o = PackedEvent(r.event_id, tpe, r.cost,
                tape / budget, tape % budget)
              tape += r.cost
              o
            }
          state.update(PackCarry(tape))
          out.iterator
      }
  }

  /** Batch dispatch packing with identical semantics — the oracle for
    * [[dispatchPackStream]] and a gate face in its own right: one
    * window PARTITIONED by event_type ordered by (ts, event_id) (the
    * per-key-parallel sessionize class — a hot type costs one linear
    * in-memory sort, see sk02's measured story; the unkeyed global
    * form of the same running sum is sp13's bucketed plan). Expects
    * (event_id, event_type, ts, `costCol`); emits
    * (event_id, event_type, cost, bin, off).
    */
  def dispatchPackBatch(events: DataFrame, costCol: String,
                        budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    import org.apache.spark.sql.expressions.Window
    val byType = Window.partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .select(col("event_id"), col("event_type"),
        col(costCol).cast("long").as("cost"), col("ts"))
      .withColumn("__tape",
        coalesce(sum(col("cost")).over(byType), lit(0L)))
      .select(col("event_id"), col("event_type"), col("cost"),
        expr(s"__tape DIV $budget").as("bin"),
        pmod(col("__tape"), lit(budget)).as("off"))
  }

  final case class DedupInput(user_id: Long, event_type: String,
                              ts: Timestamp, event_id: Long)
  final case class FirstSeen(ts: Long, event_id: Long)
  final case class FirstEvent(user_id: Long, event_type: String,
                              day: Timestamp, first_ts: Timestamp,
                              first_event_id: Long)

  private val DayMs = 86400000L

  /** Both faces of the first-event-per-day dedup derive the day as a
    * UTC calendar day: the stream keys on `floorDiv(epochMs, DayMs)`
    * (epoch is UTC by definition; floorDiv, not `/`, so pre-1970
    * timestamps floor instead of truncating toward zero) and the
    * batch face uses `date_trunc('day', ts)`, which truncates in
    * `spark.sql.session.timeZone`. The two agree ONLY under a UTC
    * session — assert it rather than silently diverge.
    */
  private def requireUtcSession(spark: org.apache.spark.sql.SparkSession,
                                who: String): Unit = {
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    require(java.time.ZoneId.of(tz).normalized() ==
        java.time.ZoneOffset.UTC.normalized(),
      s"$who derives UTC days; set spark.sql.session.timeZone=UTC " +
        s"(session has '$tz')")
  }

  /** Streaming dedup / canonicalization: each (user, event type, UTC
    * day) keys exactly one output row — its EARLIEST event (ties by
    * event id) — emitted once the watermark passes the day, i.e. once
    * the answer can no longer change. The day bound is what makes
    * streaming dedup state finite: an unbounded "first ever per key"
    * would grow state with the key universe forever, while windowed
    * dedup state is O(active keys × 1 day) and evicted by event-time
    * timeout. Batch form of the same semantics:
    * [[firstEventPerDayBatch]] (the st06 oracle); the MemoryStream
    * spec asserts stream → batch convergence.
    */
  def firstEventPerDayStream(events: Dataset[DedupInput],
                             watermark: String = "2 hours"): Dataset[FirstEvent] = {
    import events.sparkSession.implicits._
    requireUtcSession(events.sparkSession, "firstEventPerDayStream")
    events
      .withWatermark("ts", watermark)
      .groupByKey(r =>
        (r.user_id, r.event_type, Math.floorDiv(r.ts.getTime, DayMs)))
      .flatMapGroupsWithState[FirstSeen, FirstEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (key: (Long, String, Long), rows: Iterator[DedupInput],
         state: GroupState[FirstSeen]) =>
          val (user, etype, day) = key
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(FirstEvent(user, etype,
              new Timestamp(day * DayMs), new Timestamp(s.ts),
              s.event_id))
          } else {
            val ord = Ordering.Tuple2[Long, Long]
            var best = state.getOption
            rows.foreach { r =>
              val c = FirstSeen(r.ts.getTime, r.event_id)
              if (best.forall(b =>
                  ord.lt((c.ts, c.event_id), (b.ts, b.event_id))))
                best = Some(c)
            }
            state.update(best.get)
            // finalize when the watermark clears the day's end
            state.setTimeoutTimestamp((day + 1) * DayMs)
            Iterator.empty
          }
      }
  }

  /** Batch semantics of [[firstEventPerDayStream]]: one min(struct)
    * hash aggregate with map-side combine — never a per-key window
    * sort, the same argmax shape as
    * [[graft.operators.Dedup.resolveClusters]].
    */
  def firstEventPerDayBatch(events: DataFrame): DataFrame = {
    requireUtcSession(events.sparkSession, "firstEventPerDayBatch")
    events.groupBy(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("day"))
      .agg(min(struct(col("ts"), col("event_id"))).as("f"))
      .select(col("user_id"), col("event_type"), col("day"),
        col("f.ts").as("first_ts"), col("f.event_id").as("first_event_id"))
  }

  /** Stream-static enrichment join + windowed aggregation: the event
    * stream joined to a static dimension table (user → market
    * segment). Under `readStream` Spark plans the static side as a
    * fresh batch scan per micro-batch with NO join state kept — the
    * canonical "enrich the stream with reference data" pattern, and
    * the reason to prefer stream-static over stream-stream whenever
    * the right side is slowly-changing. The dim is broadcast, so the
    * stream never shuffles for the join at any scale.
    */
  def enrichedSegmentCounts(events: DataFrame, customers: DataFrame,
                            windowLen: String = "1 hour",
                            watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .join(broadcast(customers.select(col("c_custkey"),
        col("c_mktsegment"))), col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), windowLen).as("w"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 6).as("sum_value"))
      .select(col("w.start").as("w_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  /** Watermarked stream-stream inner join: purchases attributed to a
    * preceding view by the same user within `within` — the canonical
    * two-stream correlation. The time-range join condition plus
    * watermarks on BOTH sides is what bounds the join state: Spark
    * derives how long each side's rows can matter and evicts state
    * older than that, so state is O(rate × window), not O(stream).
    * In batch mode (`withWatermark` is a no-op there) the same plan
    * is the exact interval join the DuckDB oracle runs. Each side
    * shuffles once on user_id; at 100 TB/day rates the watermark is
    * the knob that trades late-data recall for state size.
    */
  def attributedPurchases(events: DataFrame,
                          within: String = "30 minutes",
                          watermark: String = "2 hours",
                          joinType: String = "inner"): DataFrame = {
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
      .withWatermark("v_ts", watermark)
    val buys = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_ts", watermark)
    views.join(buys,
        col("v_user") === col("p_user") &&
          col("p_ts") > col("v_ts") &&
          col("p_ts") <= col("v_ts") + expr(s"INTERVAL $within"),
        joinType)
      .select(col("v_user").as("user_id"), col("view_id"),
        col("purchase_id"),
        (unix_millis(col("p_ts")) - unix_millis(col("v_ts")))
          .as("lag_ms"))
  }

  /** Streaming exact dedup — the incremental face of
    * [[graft.operators.Dedup.exactGroups]]: documents arriving on a
    * stream are deduplicated by content hash across micro-batches,
    * with the dedup state bounded by the watermark (a duplicate
    * arriving later than `watermark` after the original may pass —
    * the standard state/recall trade at unbounded scale).
    */
  def streamingDedup(docs: DataFrame, tsCol: String, textCol: String,
                     watermark: String = "1 hour"): DataFrame =
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("content_hash")

  /** Batch sessionization with identical semantics (gaps-and-islands
    * via lag + running sum) — the oracle for [[sessionizeStream]] and
    * a DuckDB-expressible query in its own right.
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs,
          1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
      .drop(col("session_id"))
  }

  /** Top-K session paths: [[sessionizeBatch]]'s gaps-and-islands
    * assignment, then each session's event types joined in time
    * order (`>`-separated) and counted corpus-wide — the
    * product-analytics "what do users do in a visit" view.
    *
    * Order inside a session is made total with `event_id` as the
    * tiebreak (same-timestamp events would otherwise make the path
    * string nondeterministic). The ordered join is a sort of each
    * session's OWN rows in-row (`sort_array` on (t, id, type)
    * structs after a per-session collect) — sessions are bounded by
    * the gap rule, so the collected array is small by construction;
    * nothing ever globally sorts. Path counting is an ordinary
    * hash aggregate + bounded top-K.
    */
  def sessionPaths(events: DataFrame, gapMs: Long, k: Int): DataFrame =
    sessionPathRows(events, gapMs)
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path").asc)
      .limit(k)

  /** One row per (user, session): the session's start and its ordered
    * event-type path — the batch form [[sessionPathsStream]] must
    * converge to, and [[sessionPaths]]'s input.
    */
  def sessionPathRows(events: DataFrame, gapMs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("event_id"))
    events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("t"))
      .withColumn("prev_t", lag(col("t"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_t").isNull || col("t") - col("prev_t") > gapMs,
          1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(
          byUser.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("t")).as("session_start_ms"),
        array_join(transform(
          sort_array(collect_list(
            struct(col("t"), col("event_id"), col("event_type")))),
          s => s.getField("event_type")), ">").as("path"))
      .select(col("user_id"), col("session_start_ms"), col("path"))
  }

  final case class PathInput(user_id: Long, ts: Timestamp,
                             event_id: Long, event_type: String)
  final case class PathEvent(t: Long, id: Long, tpe: String)
  final case class PathState(start: Long, end: Long,
                             events: List[PathEvent])
  final case class SessionPathRow(user_id: Long, session_start_ms: Long,
                                  path: String)

  /** Streaming session paths: per-user gap sessions whose ordered
    * event-type path is emitted ONCE, when event-time timeout closes
    * the session — the [[sessionizeStream]] machinery carrying the
    * session's own events in state (bounded: a session's rows, capped
    * by the gap rule) so late-but-in-watermark arrivals inside an
    * open session still land in correct (t, event_id) order — the
    * final sort happens at close, not at arrival. Same
    * interval-clustering merge as [[sessionizeStream]]: an
    * in-watermark straggler more than `gapMs` BEFORE the open session
    * becomes its own (earlier) emitted session instead of being glued
    * onto the open one, matching the batch face. Batch oracle:
    * [[sessionPathRows]].
    */
  def sessionPathsStream(events: Dataset[PathInput],
                         gapMs: Long): Dataset[SessionPathRow] = {
    import events.sparkSession.implicits._
    def pathOf(s: PathState): String =
      s.events.sortBy(e => (e.t, e.id)).map(_.tpe).mkString(">")
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[PathState, SessionPathRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Long, rows: Iterator[PathInput],
         state: GroupState[PathState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionPathRow(user, s.start, pathOf(s)))
          } else {
            val intervals = (rows.map { r =>
                val t = r.ts.getTime
                PathState(t, t, List(PathEvent(t, r.event_id, r.event_type)))
              }.toSeq ++ state.getOption).sortBy(s => (s.start, s.end))
            var out = List.empty[SessionPathRow]
            var cur: Option[PathState] = None
            intervals.foreach { iv =>
              cur match {
                case Some(s) if iv.start - s.end <= gapMs =>
                  cur = Some(PathState(s.start, math.max(s.end, iv.end),
                    iv.events ::: s.events))
                case Some(s) =>
                  out ::= SessionPathRow(user, s.start, pathOf(s))
                  cur = Some(iv)
                case None =>
                  cur = Some(iv)
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(math.max(s.end + gapMs,
                state.getCurrentWatermarkMs() + 1))
            }
            out.reverseIterator
          }
      }
  }
}
