package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Curation
import graft.streaming.{CorpusStreams, EventStreams}
import graft.streaming.EventStreams.{SessionInput, UserSession}
import java.sql.Timestamp

/** Drives the streaming transforms through MemoryStream and asserts
  * they converge to the batch answer on the same rows — the
  * batch/stream unification contract. Watermark-driven session
  * closure is exercised by feeding a late "far future" event that
  * advances the watermark past open sessions.
  */
class EventStreamsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.streaming.checkpointLocation",
      java.nio.file.Files.createTempDirectory("ckpt").toString)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // offset from epoch 0: the initial watermark is 0, and stateful ops
  // drop rows at/behind the watermark — epoch-0 fixtures vanish.
  val Base = 1704067200000L // 2024-01-01T00:00:00Z
  def ts(minutes: Long): Timestamp = new Timestamp(Base + minutes * 60000L)
  def mins(t: Long): Long = (t - Base) / 60000L

  /** Run `f` with the named state-store provider in effect — the
    * foreachBatch sinks are near-stateless, but a 100 TB deployment
    * runs RocksDB everywhere, so their exactly-once/idempotent-replay
    * contracts are asserted under BOTH providers (VERDICT r11 #7).
    * providerClass is read at stream start; restored after. */
  private def withStateStore[A](provider: String)(f: => A): A =
    if (provider == "rocksdb") {
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "org.apache.spark.sql.execution.streaming" +
        ".state.RocksDBStateStoreProvider")
      try f
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    } else f

  val rows = Seq(
    // user 1: two sessions separated by > 30 min
    SessionInput(1L, ts(0), 1.0), SessionInput(1L, ts(10), 2.0),
    SessionInput(1L, ts(20), 3.0),
    SessionInput(1L, ts(70), 4.0), SessionInput(1L, ts(75), 5.0),
    // user 2: one session
    SessionInput(2L, ts(5), 10.0), SessionInput(2L, ts(25), 20.0))

  test("flatMapGroupsWithState sessionization converges to the batch answer") {
    import spark.implicits._
    val mem = MemoryStream[SessionInput](spark)
    val sessions = EventStreams.sessionizeStream(mem.toDS(),
      gapMs = 30L * 60000L)
    val q = sessions.writeStream.format("memory")
      .queryName("sessions_out").outputMode("append").start()
    try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      // advance watermark far beyond every open session (+2h wm delay)
      mem.addData(SessionInput(99L, ts(10000), 0.0))
      q.processAllAvailable()

      val got = spark.table("sessions_out").as[UserSession]
        .collect().filter(_.user_id != 99L)
        .map(s => (s.user_id, mins(s.session_start.getTime),
          mins(s.session_end.getTime), s.n_events, s.sum_value))
        .toSet

      val batch = EventStreams.sessionizeBatch(
          rows.toDF(), gapMs = 30L * 60000L)
        .collect()
        .map(r => (r.getLong(0), mins(r.getTimestamp(1).getTime),
          mins(r.getTimestamp(2).getTime), r.getInt(3), r.getDouble(4)))
        .toSet

      assert(got == batch)
      assert(got == Set(
        (1L, 0L, 20L, 3, 6.0), (1L, 70L, 75L, 2, 9.0),
        (2L, 5L, 25L, 2, 30.0)))
    } finally q.stop()
  }

  test("streaming session paths converge to the batch rows, ordered at close") {
    import spark.implicits._
    import EventStreams.{PathInput, SessionPathRow}
    val mem = MemoryStream[PathInput](spark)
    val paths = EventStreams.sessionPathsStream(mem.toDS(),
      gapMs = 30L * 60000L)
    val q = paths.writeStream.format("memory")
      .queryName("paths_out").outputMode("append").start()
    val rows = Seq(
      // user 1, session A fed ACROSS micro-batches with the second
      // batch's event EARLIER in event time (in-watermark, in-gap) —
      // the close-time sort must still order view>click>purchase
      PathInput(1L, ts(0), 10L, "view"),
      PathInput(1L, ts(20), 12L, "purchase"),
      // user 1, session B after the gap; same-ts tie broken by id
      PathInput(1L, ts(70), 13L, "view"), PathInput(1L, ts(70), 14L, "error"),
      // user 2: single-event session
      PathInput(2L, ts(5), 20L, "signup"))
    try {
      mem.addData(rows.take(2): _*)
      q.processAllAvailable()
      mem.addData(PathInput(1L, ts(10), 11L, "click")) // late, in-gap
      q.processAllAvailable()
      mem.addData(rows.drop(2): _*)
      q.processAllAvailable()
      mem.addData(PathInput(99L, ts(10000), 990L, "view")) // advance wm
      q.processAllAvailable()

      val got = spark.table("paths_out").as[SessionPathRow]
        .collect().filter(_.user_id != 99L)
        .map(r => (r.user_id, mins(r.session_start_ms), r.path)).toSet
      val batch = EventStreams.sessionPathRows(
          (rows :+ PathInput(1L, ts(10), 11L, "click")).toDF(),
          gapMs = 30L * 60000L)
        .collect()
        .map(r => (r.getLong(0), mins(r.getLong(1)), r.getString(2)))
        .toSet
      assert(got == batch)
      assert(got == Set(
        (1L, 0L, "view>click>purchase"),
        (1L, 70L, "view>error"),
        (2L, 5L, "signup")))
    } finally q.stop()
  }

  test("a straggler more than gap BEFORE the open session becomes its own " +
      "session; straggler chains still bridge in") {
    import spark.implicits._
    import EventStreams.{PathInput, SessionPathRow}
    val mem = MemoryStream[PathInput](spark)
    val paths = EventStreams.sessionPathsStream(mem.toDS(),
      gapMs = 30L * 60000L)
    val q = paths.writeStream.format("memory")
      .queryName("straggler_out").outputMode("append").start()
    val all = Seq(
      PathInput(1L, ts(180), 1L, "view"), PathInput(1L, ts(185), 2L, "click"),
      // straggler: in-watermark but 80 min before the open session —
      // the naive `t - end <= gap` check is vacuously true for it and
      // used to glue it onto the open session; batch makes it its own
      PathInput(1L, ts(100), 3L, "signup"),
      // straggler CHAIN whose head is in-gap of the open session: the
      // whole chain must bridge into it (and extend its start)
      PathInput(1L, ts(152), 4L, "view"), PathInput(1L, ts(178), 5L, "click"))
    try {
      mem.addData(all.take(2): _*)
      q.processAllAvailable()
      mem.addData(all.drop(2): _*)
      q.processAllAvailable()
      mem.addData(PathInput(99L, ts(10000), 990L, "view")) // advance wm
      q.processAllAvailable()

      val got = spark.table("straggler_out").as[SessionPathRow]
        .collect().filter(_.user_id != 99L)
        .map(r => (r.user_id, mins(r.session_start_ms), r.path)).toSet
      val batch = EventStreams.sessionPathRows(all.toDF(),
          gapMs = 30L * 60000L)
        .collect()
        .map(r => (r.getLong(0), mins(r.getLong(1)), r.getString(2)))
        .toSet
      assert(got == batch)
      assert(got == Set(
        (1L, 100L, "signup"),
        (1L, 152L, "view>click>view>click")))
    } finally q.stop()
  }

  test("sessionize interval-merge handles disjoint stragglers like batch") {
    import spark.implicits._
    val mem = MemoryStream[SessionInput](spark)
    val sessions = EventStreams.sessionizeStream(mem.toDS(),
      gapMs = 30L * 60000L)
    val q = sessions.writeStream.format("memory")
      .queryName("straggler_sess_out").outputMode("append").start()
    val all = Seq(
      SessionInput(1L, ts(180), 1.0), SessionInput(1L, ts(185), 2.0),
      SessionInput(1L, ts(100), 4.0)) // disjoint straggler
    try {
      mem.addData(all.take(2): _*)
      q.processAllAvailable()
      mem.addData(all.drop(2): _*)
      q.processAllAvailable()
      mem.addData(SessionInput(99L, ts(10000), 0.0))
      q.processAllAvailable()
      val got = spark.table("straggler_sess_out").as[UserSession]
        .collect().filter(_.user_id != 99L)
        .map(s => (s.user_id, mins(s.session_start.getTime),
          mins(s.session_end.getTime), s.n_events, s.sum_value)).toSet
      val batch = EventStreams.sessionizeBatch(all.toDF(),
          gapMs = 30L * 60000L)
        .collect()
        .map(r => (r.getLong(0), mins(r.getTimestamp(1).getTime),
          mins(r.getTimestamp(2).getTime), r.getInt(3), r.getDouble(4)))
        .toSet
      assert(got == batch)
      assert(got == Set((1L, 100L, 100L, 1, 4.0), (1L, 180L, 185L, 2, 3.0)))
    } finally q.stop()
  }

  test("firstEventPerDay faces refuse a non-UTC session timezone") {
    import spark.implicits._
    import EventStreams.DedupInput
    val prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val df = Seq((1L, "view", ts(0), 1L))
        .toDF("user_id", "event_type", "ts", "event_id")
      intercept[IllegalArgumentException] {
        EventStreams.firstEventPerDayBatch(df)
      }
      intercept[IllegalArgumentException] {
        EventStreams.firstEventPerDayStream(
          df.as[DedupInput])
      }
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("in-row band signatures are value-identical to the aggregation form") {
    import spark.implicits._
    import graft.operators.Dedup
    import graft.text.TextOps
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different words in this document here"),
      (4L, "xy"), // 1 token → no 3-gram shingles → no signature rows
      (5L, "the quick brown fox jumps over the lazy dog")) // dup of 1
      .toDF("doc_id", "text")
    val agg = DedupComposed.lshBandSignatures(
        Dedup.shingles(docs, "doc_id", TextOps.tokenize(col("text"))),
        numHashes = 16, rowsPerBand = 4)
      .as[(Long, Int, String)].collect().toSet
    val inRow = docs
      .select(col("doc_id"),
        array_distinct(graft.text.Analysis.ngrams(
          TextOps.tokenize(col("text")), 3)).as("__sh"))
      .select(col("doc_id"),
        explode(Dedup.bandSignaturesInRow(col("__sh"), 16, 4)).as("bs"))
      .select(col("doc_id"), col("bs.b"), col("bs.sig"))
      .as[(Long, Int, String)].collect().toSet
    assert(inRow == agg)
    assert(!inRow.exists(_._1 == 4L)) // shingle-less doc absent in both
    // exact duplicates share every band signature
    assert(inRow.filter(_._1 == 1L).map(t => (t._2, t._3)) ==
      inRow.filter(_._1 == 5L).map(t => (t._2, t._3)))
  }

  test("streaming near-dup candidates converge to the batch LSH pairs") {
    import spark.implicits._
    import graft.streaming.CorpusStreams
    import graft.streaming.CorpusStreams.{CandPair, DocInput}
    import graft.operators.Dedup
    import graft.text.TextOps
    val horizon = 60L * 60000L // 1 hour
    val dup = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      DocInput(1L, ts(0), dup),
      DocInput(2L, ts(10), "unrelated content with its own words"),
      DocInput(3L, ts(30), dup),      // pairs with 1 (30 min apart)
      DocInput(4L, ts(80), dup))      // pairs with 3 (50 min) but NOT
                                      // with 1 (80 min > horizon)
    val mem = MemoryStream[DocInput](spark)
    val cands = CorpusStreams.streamingNearDupCands(mem.toDS(), horizon)
    val q = cands.writeStream.format("memory")
      .queryName("neardup_out").outputMode("append").start()
    try {
      mem.addData(docs.take(2): _*)
      q.processAllAvailable()
      mem.addData(docs.drop(2): _*)
      q.processAllAvailable()
      mem.addData(DocInput(99L, ts(10000), "watermark advancer text"))
      q.processAllAvailable()
      val got = spark.table("neardup_out").as[CandPair]
        .collect().map(p => (p.a, p.b)).toSet // fold cross-band dups
      // batch face on the same rows: bucket-join candidates within
      // the event-time horizon
      val df = docs.map(d => (d.doc_id, d.ts.getTime, d.text))
        .toDF("doc_id", "t", "text")
      val sh = Dedup.shingles(df, "doc_id", TextOps.tokenize(col("text")))
      val t = df.select(col("doc_id"), col("t"))
      val batch = Dedup.lshCandidates(
          DedupComposed.lshBandSignatures(sh, 16, 4))
        .join(t.select(col("doc_id").as("a"), col("t").as("ta")), "a")
        .join(t.select(col("doc_id").as("b"), col("t").as("tb")), "b")
        .filter(abs(col("ta") - col("tb")) <= horizon)
        .select(col("a"), col("b")).as[(Long, Long)].collect().toSet
      assert(got == batch)
      assert(got == Set((1L, 3L), (3L, 4L)))
    } finally q.stop()
  }

  test("streaming dedup: duplicates dropped across micro-batches") {
    import spark.implicits._
    val mem = MemoryStream[(Timestamp, String)](spark)
    val deduped = EventStreams.streamingDedup(
      mem.toDS().toDF("ts", "text"), "ts", "text")
    val q = deduped.writeStream.format("memory")
      .queryName("dedup_out").outputMode("append").start()
    try {
      mem.addData((ts(0), "doc A"), (ts(1), "doc A"), (ts(2), "doc B"))
      q.processAllAvailable()
      // same content arriving in a LATER micro-batch (still inside the
      // watermark) must also be dropped — state spans batches
      mem.addData((ts(5), "doc A"), (ts(6), "doc C"))
      q.processAllAvailable()
      val texts = spark.table("dedup_out")
        .collect().map(_.getString(1)).sorted.toSeq
      assert(texts == Seq("doc A", "doc B", "doc C"))
    } finally q.stop()
  }

  test("stream-static enrichment join converges to the batch answer") {
    import spark.implicits._
    val customers = Seq((1L, "AUTO"), (2L, "RETAIL"), (3L, "RETAIL"))
      .toDF("c_custkey", "c_mktsegment")
    val eventRows = rows.map(r => (r.user_id, r.ts, r.value))
    val batch = EventStreams.enrichedSegmentCounts(
        eventRows.toDF("user_id", "ts", "value"), customers)
      .collect().map(r => (mins(r.getTimestamp(0).getTime),
        r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val mem = MemoryStream[(Long, Timestamp, Double)](spark)
    val stream = EventStreams.enrichedSegmentCounts(
      mem.toDS().toDF("user_id", "ts", "value"), customers)
    val q = stream.writeStream.format("memory")
      .queryName("enrich_out").outputMode("complete").start()
    try {
      // two micro-batches: the static side is re-scanned per batch
      mem.addData(eventRows.take(4): _*)
      q.processAllAvailable()
      mem.addData(eventRows.drop(4): _*)
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .collect().map(r => (mins(r.getTimestamp(0).getTime),
          r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == batch)
      // user 1 = AUTO (sessions across hours 0 and 1), user 2 = RETAIL
      assert(batch == Set(
        (0L, "AUTO", 3L, 6.0), (60L, "AUTO", 2L, 9.0),
        (0L, "RETAIL", 2L, 30.0)))
    } finally q.stop()
  }

  test("stream-stream interval join converges to the batch answer") {
    import spark.implicits._
    // (event_id, user_id, ts, event_type): user 1 view→purchase at
    // +10 min (match) and a purchase at +40 min (outside the 30-min
    // window); user 2 purchase BEFORE its view (no match); user 1's
    // second view also precedes the +40 purchase within 30 (match).
    val ev = Seq(
      (100L, 1L, ts(0), "view"), (101L, 1L, ts(10), "purchase"),
      (102L, 1L, ts(25), "view"), (103L, 1L, ts(40), "purchase"),
      (200L, 2L, ts(5), "purchase"), (201L, 2L, ts(50), "view"))
    def df(xs: Seq[(Long, Long, Timestamp, String)]) =
      xs.toDF("event_id", "user_id", "ts", "event_type")
    val batch = EventStreams.attributedPurchases(df(ev))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch == Set((1L, 100L, 101L, 10L * 60000L),
      (1L, 102L, 103L, 15L * 60000L)))

    val mem = MemoryStream[(Long, Long, Timestamp, String)](spark)
    val q = EventStreams.attributedPurchases(
        mem.toDS().toDF("event_id", "user_id", "ts", "event_type"))
      .writeStream.format("memory")
      .queryName("ssj_out").outputMode("append").start()
    try {
      // split so a view and its matching purchase arrive in
      // DIFFERENT micro-batches — forcing the buffered join state
      mem.addData(ev.take(3): _*)
      q.processAllAvailable()
      mem.addData(ev.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("ssj_out")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER join converges to the batch answer") {
    import spark.implicits._
    // same fixture as the inner-join test: views 100/102 match,
    // view 201 has no qualifying purchase → null-padded row
    val ev = Seq(
      (100L, 1L, ts(0), "view"), (101L, 1L, ts(10), "purchase"),
      (102L, 1L, ts(25), "view"), (103L, 1L, ts(40), "purchase"),
      (200L, 2L, ts(5), "purchase"), (201L, 2L, ts(50), "view"))
    def df(xs: Seq[(Long, Long, Timestamp, String)]) =
      xs.toDF("event_id", "user_id", "ts", "event_type")
    val batch = EventStreams.attributedPurchases(df(ev),
        joinType = "left_outer")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(batch == Set(
      (1L, 100L, Some(101L), Some(10L * 60000L)),
      (1L, 102L, Some(103L), Some(15L * 60000L)),
      (2L, 201L, None, None)))

    val mem = MemoryStream[(Long, Long, Timestamp, String)](spark)
    val q = EventStreams.attributedPurchases(
        mem.toDS().toDF("event_id", "user_id", "ts", "event_type"),
        joinType = "left_outer")
      .writeStream.format("memory")
      .queryName("ssj_outer_out").outputMode("append").start()
    try {
      mem.addData(ev.take(3): _*)
      q.processAllAvailable()
      mem.addData(ev.drop(3): _*)
      q.processAllAvailable()
      // null-padded rows only surface once the GLOBAL watermark (min
      // over BOTH sides' max event time, minus the 2 h delay) provably
      // closes a view's 30-min window, and Spark emits them a
      // micro-batch AFTER eviction — so heartbeat both streams, twice
      // (the heartbeats are arranged to match nothing and their own
      // windows never close, so they add no rows)
      mem.addData((900L, 9L, ts(300), "view"),
        (910L, 9L, ts(300), "purchase"))
      q.processAllAvailable()
      mem.addData((901L, 9L, ts(400), "view"),
        (911L, 9L, ts(400), "purchase"))
      q.processAllAvailable()
      val got = spark.table("ssj_outer_out")
        .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(got == batch)
    } finally q.stop()
  }

  test("tumbling windowed agg: streaming result equals batch result") {
    import spark.implicits._
    val events = rows.map(r => (r.user_id, r.ts, "click", r.value))
      .toDF("user_id", "ts", "event_type", "value")
    val batch = EventStreams.tumblingTypeCounts(events, "1 hour")
      .collect().map(r => (mins(r.getTimestamp(0).getTime),
        r.getString(1), r.getLong(2), r.getDouble(3))).toSet

    val mem = MemoryStream[(Long, Timestamp, String, Double)](spark)
    val stream = EventStreams.tumblingTypeCounts(
      mem.toDS().toDF("user_id", "ts", "event_type", "value"), "1 hour")
    val q = stream.writeStream.format("memory")
      .queryName("tumbling_out").outputMode("complete").start()
    try {
      mem.addData(rows.map(r => (r.user_id, r.ts, "click", r.value)): _*)
      q.processAllAvailable()
      val got = spark.table("tumbling_out")
        .collect().map(r => (mins(r.getTimestamp(0).getTime),
          r.getString(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got == batch)
      assert(batch.map(_._1) == Set(0L, 60L))
    } finally q.stop()
  }

  test("windowed count-min stream converges to the byte-identical " +
      "batch grid across micro-batches") {
    import spark.implicits._
    val events = rows.toDF()
    val batch = EventStreams.windowUserCms(events, 4, 32)
      .select(unix_millis($"w_start"), $"cms", $"n_events")
      .as[(Long, Seq[Long], Long)].collect().toSet

    val mem = MemoryStream[SessionInput](spark)
    val stream = EventStreams.windowUserCms(mem.toDS().toDF(), 4, 32)
    val q = stream.writeStream.format("memory")
      .queryName("cms_out").outputMode("complete").start()
    try {
      // two micro-batches split MID-window: the second batch's
      // partial grid must element-wise fold into stored state
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table("cms_out")
        .select(unix_millis($"w_start"), $"cms", $"n_events")
        .as[(Long, Seq[Long], Long)].collect().toSet
      assert(got == batch)
      assert(got.nonEmpty && got.exists(_._2.sum > 0))
    } finally q.stop()
  }

  for (store <- Seq("default", "rocksdb"))
  test("windowed loglog registers converge to the batch registers " +
      s"across micro-batches [$store]") { withStateStore(store) {
    import spark.implicits._
    val events = rows.toDF()
    val batch = EventStreams.windowUserLogLog(events, 4)
      .select(unix_millis($"w_start"), $"bucket", $"register")
      .as[(Long, Int, Int)].collect().toSet

    val mem = MemoryStream[SessionInput](spark)
    val stream = EventStreams.windowUserLogLog(mem.toDS().toDF(), 4)
    val q = stream.writeStream.format("memory")
      .queryName(s"ll_out_$store").outputMode("complete").start()
    try {
      // split MID-window: the second batch's partial registers must
      // max-fold into stored state (duplicate- and order-insensitive)
      mem.addData(rows.take(3): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(3): _*)
      q.processAllAvailable()
      val got = spark.table(s"ll_out_$store")
        .select(unix_millis($"w_start"), $"bucket", $"register")
        .as[(Long, Int, Int)].collect().toSet
      assert(got == batch)
      assert(got.nonEmpty && got.forall(_._3 >= 1))
    } finally q.stop()
  }}

  for (store <- Seq("default", "rocksdb"))
  test("windowed type-KL drift converges to the batch answer " +
      s"across micro-batches [$store]") { withStateStore(store) {
    import spark.implicits._
    import EventStreams.PackInput
    val model = Seq("click" -> 0.55, "view" -> 0.45)
    val evs = Seq(
      PackInput(1L, "click", ts(0), 0L), PackInput(2L, "view", ts(10), 0L),
      PackInput(3L, "click", ts(20), 0L), PackInput(4L, "click", ts(70), 0L),
      PackInput(5L, "view", ts(80), 0L), PackInput(6L, "view", ts(130), 0L))
    val batch = EventStreams.windowTypeKl(evs.toDF(), model)
      .select(unix_millis($"w_start"), $"n_events", $"kl")
      .as[(Long, Long, Double)].collect().toSet

    val mem = MemoryStream[PackInput](spark)
    val q = EventStreams.windowTypeKl(mem.toDS().toDF(), model)
      .writeStream.format("memory").queryName(s"kl_out_$store")
      .outputMode("complete").start()
    try {
      // split MID-window: the second batch's conditional sums must
      // fold into stored window state (sum/count are mergeable)
      mem.addData(evs.take(2): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(2): _*)
      q.processAllAvailable()
      val got = spark.table(s"kl_out_$store")
        .select(unix_millis($"w_start"), $"n_events", $"kl")
        .as[(Long, Long, Double)].collect().toSet
      assert(got == batch)
      assert(got.nonEmpty && got.forall(r => !r._3.isNaN))
    } finally q.stop()
  }}

  test("windowed type-KL in APPEND mode: watermark finalizes a " +
      "window's score once, evicts state, and drops late data") {
    import spark.implicits._
    import EventStreams.PackInput
    val model = Seq("click" -> 0.55, "view" -> 0.45)
    val early = Seq(
      PackInput(1L, "click", ts(0), 0L), PackInput(2L, "view", ts(10), 0L),
      PackInput(3L, "click", ts(20), 0L))
    val mem = MemoryStream[PackInput](spark)
    val stream = EventStreams.windowTypeKl(mem.toDS().toDF(), model,
      watermark = "1 minute")
    val q = stream.writeStream.format("memory")
      .queryName("kl_append").outputMode("append").start()
    try {
      mem.addData(early: _*)
      q.processAllAvailable()
      assert(spark.table("kl_append").count() == 0)
      mem.addData(PackInput(99L, "view", ts(10000), 0L))
      q.processAllAvailable()
      mem.addData(PackInput(99L, "view", ts(10001), 0L))
      q.processAllAvailable()
      def w0 = spark.table("kl_append")
        .filter(unix_millis($"w_start") === Base)
        .select($"n_events", $"kl").as[(Long, Double)].collect().toSeq
      val batch = EventStreams.windowTypeKl(early.toDF(), model)
        .select($"n_events", $"kl").as[(Long, Double)].collect().toSeq
      val finalized = w0
      assert(finalized == batch && finalized.nonEmpty)
      // late data behind the watermark must not reopen the window:
      // an admitted click would change both n_events and the score
      mem.addData(PackInput(777L, "click", ts(15), 0L))
      q.processAllAvailable()
      assert(w0 == finalized,
        "late data reopened a finalized window's KL score")
      val left = q.lastProgress.stateOperators.head.numRowsTotal
      assert(left <= 2, s"finalized window state not evicted: $left")
    } finally q.stop()
  }

  test("windowed loglog in APPEND mode: watermark finalizes a " +
      "window's registers once, evicts state, and drops late data") {
    import spark.implicits._
    val early = rows.filter(_.ts.getTime < Base + 3600000L)
    val mem = MemoryStream[SessionInput](spark)
    val stream = EventStreams.windowUserLogLog(mem.toDS().toDF(), 4,
      watermark = "1 minute")
    val q = stream.writeStream.format("memory")
      .queryName("ll_append").outputMode("append").start()
    try {
      mem.addData(early: _*)
      q.processAllAvailable()
      // nothing final yet: watermark hasn't passed the first window
      assert(spark.table("ll_append").count() == 0)
      // advance event time far past window 0 (+1 min delay); second
      // batch lets the end-of-batch watermark take effect
      mem.addData(SessionInput(99L, ts(10000), 0.0))
      q.processAllAvailable()
      mem.addData(SessionInput(99L, ts(10001), 0.0))
      q.processAllAvailable()
      def w0 = spark.table("ll_append")
        .filter(unix_millis($"w_start") === Base)
        .select($"bucket", $"register").as[(Int, Int)].collect().toSet
      val batch = EventStreams.windowUserLogLog(early.toDF(), 4)
        .select($"bucket", $"register").as[(Int, Int)].collect().toSet
      // window 0 emitted exactly once, registers byte-identical to
      // the batch face
      val finalized = w0
      assert(finalized == batch && finalized.nonEmpty)
      // late data behind the watermark must NOT reopen the finalized
      // window: a new user inside window 0 would raise a register if
      // it were admitted, and append mode would emit a duplicate row
      mem.addData(SessionInput(777L, ts(15), 0.0))
      q.processAllAvailable()
      assert(w0 == finalized,
        "late data reopened a finalized window's registers")
      // finalized windows' state evicted: at most the advancer's
      // open-window buckets remain (one user -> one bucket)
      val left = q.lastProgress.stateOperators.head.numRowsTotal
      assert(left <= 2, s"finalized window state not evicted: $left")
    } finally q.stop()
  }

  test("windowed count-min in APPEND mode: watermark finalizes a " +
      "window's grid once and evicts its state") {
    import spark.implicits._
    val early = rows.filter(_.ts.getTime < Base + 3600000L)
    val mem = MemoryStream[SessionInput](spark)
    val stream = EventStreams.windowUserCms(mem.toDS().toDF(), 4, 32,
      watermark = "1 minute")
    val q = stream.writeStream.format("memory")
      .queryName("cms_append").outputMode("append").start()
    try {
      mem.addData(early: _*)
      q.processAllAvailable()
      // nothing final yet: watermark hasn't passed the first window
      assert(spark.table("cms_append").count() == 0)
      // advance event time far past window 0 (+1 min delay)
      mem.addData(SessionInput(99L, ts(10000), 0.0))
      q.processAllAvailable()
      mem.addData(SessionInput(99L, ts(10001), 0.0))
      q.processAllAvailable()
      val got = spark.table("cms_append")
        .filter(unix_millis($"w_start") === Base)
        .select($"cms", $"n_events")
        .as[(Seq[Long], Long)].collect().toSeq
      val batch = EventStreams.windowUserCms(early.toDF(), 4, 32)
        .select($"cms", $"n_events")
        .as[(Seq[Long], Long)].collect().toSeq
      // window 0 emitted exactly once, grid byte-identical to batch
      assert(got == batch)
      // finalized windows' state evicted: at most the advancer's
      // open window remains
      val left = q.lastProgress.stateOperators.head.numRowsTotal
      assert(left <= 1, s"finalized window state not evicted: $left")
    } finally q.stop()
  }

  for (store <- Seq("default", "rocksdb"))
  test("streaming dispatch packing converges to the batch answer " +
      s"with one long of state per type [$store]") { withStateStore(store) {
    import spark.implicits._
    import EventStreams.{PackInput, PackedEvent}
    val rows = Seq(
      PackInput(1L, "click", ts(0), 300L),
      PackInput(2L, "view", ts(1), 200L),
      PackInput(3L, "click", ts(2), 300L), // straddles bin 0 -> 1
      PackInput(4L, "click", ts(3), 100L),
      PackInput(5L, "view", ts(4), 400L),
      PackInput(6L, "view", ts(5), 50L))
    val budget = 512L
    val mem = MemoryStream[PackInput](spark)
    val q = EventStreams.dispatchPackStream(mem.toDS(), budget)
      .writeStream.format("memory").queryName(s"pack_$store")
      .outputMode("append").start()
    try {
      // three micro-batches, in-order arrival (the contract)
      mem.addData(rows.take(2): _*); q.processAllAvailable()
      mem.addData(rows.slice(2, 4): _*); q.processAllAvailable()
      mem.addData(rows.drop(4): _*); q.processAllAvailable()
      // the whole operator's state is one carry row per event type
      val n = q.lastProgress.stateOperators.head.numRowsTotal
      assert(n == 2, s"expected 2 state rows (one per type), got $n")
    } finally q.stop()
    val got = spark.table(s"pack_$store").as[PackedEvent].collect()
      .map(p => p.event_id -> (p.cost, p.bin, p.off)).toMap
    val batch = EventStreams.dispatchPackBatch(
        rows.toDS().toDF(), "cost", budget)
      .as[PackedEvent].collect()
      .map(p => p.event_id -> (p.cost, p.bin, p.off)).toMap
    assert(got == batch)
    // the straddle actually happened: event 3 starts in bin 0 at off
    // 300 and spills past 512
    assert(got(3L) == ((300L, 0L, 300L)), got(3L))
  } }

  for (store <- Seq("default", "rocksdb"))
  test("streaming snapshot upsert merges micro-batches and rewrites " +
      s"only touched buckets [$store]") { withStateStore(store) {
    import spark.implicits._
    import graft.operators.Curation
    import graft.streaming.CorpusStreams
    val dir = java.nio.file.Files.createTempDirectory("snap").toString
    val buckets = 8
    val seed = (0L until 40L).map(i => (i, s"v$i")).toDF("id", "payload")
    Curation.writeSnapshot(seed, "id", dir, buckets)
    // bucket untouched by any delta below → its files must survive
    val deltaIds = Seq(3L, 7L, 11L, 100L)
    val untouched = (0 until buckets).filter { b =>
      deltaIds.forall(id => spark.range(1)
        .select(Curation.snapshotBucket(lit(id), buckets))
        .head.getInt(0) != b)
    }
    assert(untouched.nonEmpty, "fixture must leave some bucket alone")
    def bucketFiles(b: Int) = {
      val d = new java.io.File(s"$dir/bucket=$b")
      if (d.exists()) d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
      else Map.empty[String, Long]
    }
    val before = untouched.map(b => b -> bucketFiles(b)).toMap

    val mem = MemoryStream[(Long, String, Long, Boolean)](spark)
    val q = CorpusStreams.upsertSink(
      mem.toDS().toDF("id", "payload", "version", "is_delete"),
      dir, "id", "version", "is_delete", buckets).start()
    try {
      mem.addData((3L, "updated3", 1L, false), (7L, "x", 1L, true))
      q.processAllAvailable()
      mem.addData((7L, "resurrected7", 2L, false), (11L, "x", 1L, true),
        (100L, "inserted100", 1L, false))
      q.processAllAvailable()
    } finally q.stop()

    val got = spark.read.parquet(dir).select($"id", $"payload")
      .as[(Long, String)].collect().toMap
    val expected = (0L until 40L).filter(_ != 11L)
      .map(i => i -> (if (i == 3L) "updated3"
                      else if (i == 7L) "resurrected7" else s"v$i"))
      .toMap + (100L -> "inserted100")
    assert(got == expected)
    untouched.foreach { b =>
      assert(bucketFiles(b) == before(b), s"bucket $b was rewritten")
    }
  } }

  for (store <- Seq("default", "rocksdb"))
  test("streaming rollup sink: fragments merge to the batch answer; " +
      s"replay is idempotent [$store]") { withStateStore(store) {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = java.nio.file.Files
      .createTempDirectory("rollup-sink-").toString + "/frags"
    val mem = MemoryStream[(Long, String, String, Long)](spark)
    val q = CorpusStreams.rollupSink(
      mem.toDS().toDF("doc_id", "source", "text", "n_chars"),
      dir, "source", "n_chars", "text").start()
    val b1 = (0 until 30).map(i =>
      (i.toLong, s"s${i % 2}", s"text $i", 10L + i))
    val b2 = (30 until 50).map { i => // 10 rows repeat batch-1 content
      val t = if (i < 40) s"text ${i - 30}" else s"text $i"
      (i.toLong, s"s${i % 2}", t, 10L + i)
    }
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def serving = Curation.mergeRollups(spark.read.parquet(dir)
        .drop("batch_id"), "source")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val first = serving
    val full = (b1 ++ b2).toDF("doc_id", "source", "text", "n_chars")
      .groupBy($"source").agg(count(lit(1)), sum($"n_chars"),
        countDistinct($"text"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    for (src <- Seq("s0", "s1")) {
      val (n, s, est) = first(src); val (en, es, ed) = full(src)
      assert(n == en && s == es, s"$src additive merge mismatch")
      assert(math.abs(est - ed) <= math.max(1L, (0.05 * ed).toLong),
        s"$src estimate $est vs exact $ed")
    }
    // at-least-once replay: re-deliver batch 0's fragment write — the
    // dynamic overwrite of its own batch_id partition must leave the
    // serving rollup unchanged (no double counting)
    graft.operators.Curation.sketchRollup(
        b1.toDF("doc_id", "source", "text", "n_chars"),
        "source", "n_chars", col("text"))
      .withColumn("batch_id", lit(0L))
      .write.partitionBy("batch_id").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(dir)
    assert(serving == first, "batch replay double-counted")
  } }

  test("streaming first-per-day dedup converges to the batch answer") {
    import spark.implicits._
    import EventStreams.{DedupInput, FirstEvent}
    val mem = MemoryStream[DedupInput](spark)
    val dedup = EventStreams.firstEventPerDayStream(mem.toDS())
    val q = dedup.writeStream.format("memory")
      .queryName("firstday_out").outputMode("append").start()
    // user 1 'view': three events in one day — only the earliest
    // survives, delivered OUT of event-time order to prove the min
    // beats arrival order; user 1 'click' and user 2 'view' key
    // separately; user 1 'view' next day keys a new window
    val in = Seq(
      DedupInput(1L, "view", ts(30), 103L),
      DedupInput(1L, "view", ts(10), 101L),
      DedupInput(1L, "click", ts(40), 104L),
      DedupInput(2L, "view", ts(15), 202L),
      DedupInput(1L, "view", ts(20), 102L),
      DedupInput(1L, "view", ts(24 * 60 + 5), 301L))
    try {
      mem.addData(in.take(3): _*)
      q.processAllAvailable()
      mem.addData(in.drop(3): _*)
      q.processAllAvailable()
      // advance the watermark two days out to finalize every window
      mem.addData(DedupInput(99L, "x", ts(3 * 24 * 60), 999L))
      q.processAllAvailable()

      val got = spark.table("firstday_out").as[FirstEvent]
        .collect().filter(_.user_id != 99L)
        .map(f => (f.user_id, f.event_type, mins(f.day.getTime),
          mins(f.first_ts.getTime), f.first_event_id)).toSet
      val batch = EventStreams.firstEventPerDayBatch(in.toDF())
        .collect()
        .map(r => (r.getLong(0), r.getString(1),
          mins(r.getTimestamp(2).getTime),
          mins(r.getTimestamp(3).getTime), r.getLong(4))).toSet
      assert(got == batch)
      assert(got == Set(
        (1L, "view", 0L, 10L, 101L),
        (1L, "click", 0L, 40L, 104L),
        (2L, "view", 0L, 15L, 202L),
        (1L, "view", 24 * 60L, 24 * 60 + 5L, 301L)))
    } finally q.stop()
  }
}
