package graft

import java.sql.Timestamp

import graft.engine.stream.EventOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Structured-Streaming semantics (SURVEY §2.8): the SAME EventOps
  * functions that pass the batch oracle run here under MicroBatch
  * execution with watermarks — covering what batch can't observe
  * (late-data drop, incremental state, append-mode emission).
  *
  * Each `addData` call is processed as its own micro-batch
  * (processAllAvailable between them), so the watermark advances
  * batch-to-batch exactly as event-time does in production.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def runStream(batches: Seq[Seq[Ev]],
      build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      mode: String): Seq[org.apache.spark.sql.Row] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val queryName = s"q_${System.nanoTime()}"
    val q = build(input.toDF())
      .writeStream.format("memory").queryName(queryName)
      .outputMode(mode).start()
    try {
      batches.foreach { b =>
        input.addData(b: _*)
        q.processAllAvailable()
      }
    } finally q.stop()
    spark.table(queryName).collect().toSeq
  }

  test("tumbling window agg: streaming (complete mode) ≡ batch") {
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:45:00"), 1, "click", 2.0),
      Ev(3, ts("2024-01-01 11:05:00"), 2, "view", 3.0))
    val rows = runStream(Seq(evs), df => EventOps.tumbling(df), "complete")
    import spark.implicits._
    val batch = EventOps.tumbling(evs.toDF()).collect()
    assert(rows.map(_.toSeq).toSet === batch.map(_.toSeq).toSet)
    assert(rows.size === 2)
  }

  test("watermark drops late events; closed windows emit in append mode") {
    val onTime = Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 12:00:00"), 1, "click", 1.0)) // advances watermark to 11:50
    val late = Seq(
      Ev(3, ts("2024-01-01 10:06:00"), 1, "click", 7.0)) // behind watermark → dropped
    val rows = runStream(Seq(onTime, late),
      df => EventOps.tumbling(df.withWatermark("ts", "10 minutes")),
      "append")
    // only the closed 10:00 window is emitted, with n=1 (late event dropped)
    assert(rows.map(r => (r.getTimestamp(0), r.getLong(2))) ===
      Seq((ts("2024-01-01 10:00:00"), 1L)))
  }

  test("streaming dedupe drops duplicate event ids") {
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(1, ts("2024-01-01 10:00:30"), 1, "click", 1.0), // dup id
      Ev(2, ts("2024-01-01 10:01:00"), 2, "view", 2.0))
    val rows = runStream(Seq(evs), df => EventOps.dedupe(df), "append")
    assert(rows.map(_.getLong(0)).sorted === Seq(1L, 2L))
  }

  test("dropDuplicatesWithinWatermark bounds dedup state by event time") {
    // the production form of streaming dedup: duplicate ids are dropped
    // while inside the watermark horizon, and state for expired ids is
    // EVICTED — a re-arrival far past the watermark is admitted again
    // (that's the state-size bound; plain dropDuplicates keeps all ids
    // forever). Event times: dup at +30 s (dropped), re-arrival next
    // day, long after the 10-minute watermark passed (admitted).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val name = s"q_${System.nanoTime()}"
    val q = input.toDF().withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id", "user_id", "ts")
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(1, ts("2024-01-01 10:00:30"), 1, "click", 1.0)) // dup: dropped
      q.processAllAvailable()
      input.addData(Ev(2, ts("2024-01-01 12:00:00"), 2, "view", 1.0))
      q.processAllAvailable() // watermark now 11:50 → id 1 state evicted
      input.addData(Ev(1, ts("2024-01-02 10:00:00"), 1, "click", 1.0))
      q.processAllAvailable() // same id, fresh horizon → admitted
    } finally q.stop()
    val byId = spark.table(name).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.length).toMap
    assert(byId(2L) === 1)
    assert(byId(1L) === 2, // one per horizon, middle dup dropped
      s"expected id 1 admitted twice across horizons, got $byId")
  }

  test("session windows close after the 30-minute gap (batch ≡ stream)") {
    val evs = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // same session
      Ev(3, ts("2024-01-01 11:00:00"), 1, "click", 1.0), // 50min gap → new
      Ev(4, ts("2024-01-01 10:00:00"), 2, "view", 1.0))
    import spark.implicits._
    val batch = EventOps.sessions(evs.toDF())
      .orderBy("user_id", "session_start_us").collect()
    assert(batch.length === 3) // user1 × 2 sessions + user2 × 1
    assert(batch.filter(_.getLong(1) == 1L).map(_.getLong(2)).toSeq ===
      Seq(2L, 1L))
    // stream: a far-future pusher event closes all real sessions; its own
    // session stays open (never emitted), so stream output ≡ batch
    val pusher = Seq(Ev(99, ts("2024-01-02 00:00:00"), 99, "view", 0.0))
    val stream = runStream(Seq(evs, pusher),
      df => EventOps.sessions(df.withWatermark("ts", "1 minute")), "append")
    assert(stream.map(_.toSeq).toSet === batch.map(_.toSeq).toSet)
  }

  test("stateful per-user aggregate: stream state converges to batch result") {
    val b1 = Seq(
      Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
    val b2 = Seq(
      Ev(3, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0),
      Ev(4, ts("2024-01-01 10:31:00"), 2, "click", 1.0))
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Ev]
    val name = s"q_${System.nanoTime()}"
    val q = EventOps.statefulUserAggStream(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      Seq(b1, b2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    // memory sink in update mode appends each update; the final state is
    // the row with the highest (monotonically growing) count per user
    val finalState = spark.table(name).collect()
      .groupBy(_.getLong(0))
      .map { case (u, rows) => u -> rows.maxBy(_.getLong(1)) }
    assert(finalState(1L).getLong(1) === 3L)
    assert(finalState(1L).getString(2) === "purchase")
    assert(finalState(2L).getLong(1) === 1L)
    assert(finalState(2L).getString(2) === "click")
    // batch form agrees with the streamed final state
    val batch = EventOps.statefulUserAgg((b1 ++ b2).toDF())
      .orderBy("user_id").collect()
    assert(batch.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      === Seq((1L, 3L, "purchase"), (2L, 1L, "click")))
  }

  test("durable file pipeline: jsonl source → watermarked agg → parquet sink") {
    import spark.implicits._
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/stream_${System.nanoTime()}"
    val (inDir, outDir, chkDir) = (s"$base/in", s"$base/out", s"$base/chk")
    val schema = Seq(Ev(0, ts("2024-01-01 00:00:00"), 0, "", 0.0)).toDF().schema
    def drop(evs: Seq[Ev], f: String): Unit =
      evs.toDF().coalesce(1).write.json(s"$inDir/$f")
    drop(Seq(
      Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
      Ev(2, ts("2024-01-01 10:45:00"), 1, "click", 2.0)), "b1")
    val q = EventOps.tumbling(
      spark.readStream.schema(schema).option("recursiveFileLookup", "true")
        .json(inDir).withWatermark("ts", "10 minutes"))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", chkDir)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // second file advances the watermark past the 10:00 window
      drop(Seq(Ev(3, ts("2024-01-01 12:00:00"), 2, "view", 3.0)), "b2")
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(outDir)
      .select("hour_start", "event_type", "n").collect()
    assert(out.map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
      .toSet === Set((ts("2024-01-01 10:00:00"), "click", 2L)))
  }

  test("stateful agg runs on the RocksDB state store (production backend)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Ev]
      val name = s"q_${System.nanoTime()}"
      val q = EventOps.statefulUserAggStream(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        input.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
        q.processAllAvailable()
        input.addData(Ev(2, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table(name).collect()
        .filter(_.getLong(0) == 1L).maxBy(_.getLong(1))
      assert(last.getLong(1) === 2L)
      assert(last.getString(2) === "purchase")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState keyed state matches batch (RocksDB-backed)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Ev]
      val name = s"q_${System.nanoTime()}"
      val q = EventOps.statefulUserAggTws(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      val b1 = Seq(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
      val b2 = Seq(
        Ev(3, ts("2024-01-01 10:30:00"), 1, "purchase", 1.0),
        Ev(4, ts("2024-01-01 10:31:00"), 2, "click", 1.0))
      try {
        Seq(b1, b2).foreach { b => input.addData(b: _*); q.processAllAvailable() }
      } finally q.stop()
      val finalState = spark.table(name).collect()
        .groupBy(_.getLong(0))
        .map { case (u, rows) => u -> rows.maxBy(_.getLong(1)) }
      assert(finalState(1L).getLong(1) === 3L)
      assert(finalState(1L).getString(2) === "purchase")
      assert(finalState(2L).getLong(1) === 1L)
      // state survives across micro-batches exactly like the batch fold
      val batch = EventOps.statefulUserAgg((b1 ++ b2).toDF())
        .orderBy("user_id").collect()
      assert(batch.map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq === Seq((1L, 3L, "purchase"), (2L, 1L, "click")))
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("event-time timers close sessions and evict state on expiry") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Ev]
      val name = s"q_${System.nanoTime()}"
      // 30-minute inactivity gap; zero-delay watermark so the stream's
      // max event time IS the watermark of the following batch
      val q = EventOps.sessionSummariesTws(
          input.toDF().withWatermark("ts", "0 seconds"), 1800000L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // batch 1: user 1's session = two events 5 minutes apart
        input.addData(
          Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
          Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
        q.processAllAvailable()
        // batch 2 advances event time far past 10:35 (= 10:05 + gap)…
        input.addData(Ev(3, ts("2024-01-01 12:00:00"), 2, "click", 1.0))
        q.processAllAvailable()
        // …and batch 3 runs with that watermark, firing user 1's timer
        input.addData(Ev(4, ts("2024-01-01 12:01:00"), 2, "view", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      // user 1's session closed by timer: 2 events, 10:00 → 10:05
      assert(out.contains((1L, 2L,
        ts("2024-01-01 10:00:00").getTime * 1000L,
        ts("2024-01-01 10:05:00").getTime * 1000L)),
        s"missing closed session for user 1 in ${out.toSeq}")
      // user 2's session is still open (watermark never passed its gap)
      assert(!out.exists(_._1 == 2L), s"user 2 emitted early: ${out.toSeq}")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("chained timers emit one snapshot per crossed period boundary") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val input = MemoryStream[Ev]
      val name = s"q_${System.nanoTime()}"
      val q = EventOps.periodicSnapshotsTws(
          input.toDF().withWatermark("ts", "0 seconds"), 3600000L)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // two events for user 1 at 10:05/10:20 → chain aligned to 11:00
        input.addData(
          Ev(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
          Ev(2, ts("2024-01-01 10:20:00"), 1, "view", 1.0))
        q.processAllAvailable()
        // watermark jumps to 13:30 → boundaries 11:00, 12:00, 13:00
        // all fire, each expiry re-arming the next
        input.addData(Ev(3, ts("2024-01-01 13:30:00"), 2, "click", 1.0))
        q.processAllAvailable()
        input.addData(Ev(4, ts("2024-01-01 13:31:00"), 2, "view", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      val fires = spark.table(name).collect()
        .filter(_.getLong(0) == 1L)
        .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
      val hour = (h: String) => ts(s"2024-01-01 $h").getTime
      assert(fires.toSeq === Seq(
        (hour("11:00:00"), 2L), (hour("12:00:00"), 2L),
        (hour("13:00:00"), 2L)),
        s"expected three chained fires, got ${fires.toSeq}")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("state TTL: values expire after the duration, persist within it") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      // In ProcessingTime mode the engine schedules batches continuously
      // (shouldRunAnotherBatch stays true so TTL can advance), so the
      // query NEVER quiesces — processAllAvailable / AvailableNow would
      // wait forever. Poll the sink for the expected emission instead.
      // Each batch emits exactly one (user, count) row per keyed input,
      // so the target count value identifies the batch that produced it.
      def emits(ttl: java.time.Duration, sleepMs: Long,
          expect: Long): Boolean = {
        val input = MemoryStream[Ev]
        val name = s"q_${System.nanoTime()}"
        val q = EventOps.ttlUserCountsTws(input.toDF(), ttl)
          .writeStream.format("memory").queryName(name)
          .outputMode("update").start()
        try {
          def await(v: Long): Boolean = {
            val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
            def seen = spark.table(name).collect().exists(_.getLong(1) == v)
            while (!seen && System.nanoTime() < deadline) Thread.sleep(100)
            seen
          }
          input.addData(
            Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
            Ev(2, ts("2024-01-01 10:05:00"), 1, "view", 1.0))
          assert(await(2L), "first batch must emit count 2")
          Thread.sleep(sleepMs)
          input.addData(Ev(3, ts("2024-01-01 10:10:00"), 1, "click", 1.0))
          await(expect)
        } finally q.stop()
      }
      // TTL far beyond the gap: the count keeps accumulating → 2 + 1
      assert(emits(java.time.Duration.ofHours(1), 0L, 3L),
        "state inside its TTL must persist across batches")
      // TTL far below the gap: batch-2 reads expired state → restart at 1
      assert(emits(java.time.Duration.ofMillis(200), 2000L, 1L),
        "state past its TTL must read as absent (lazy eviction)")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("stream-stream interval join matches clicks to in-window purchases") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val name = s"q_${System.nanoTime()}"
    val joined = EventOps.clickPurchasePairs(
      clicks.toDF().withWatermark("ts", "10 minutes"),
      purchases.toDF().withWatermark("ts", "10 minutes"))
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      clicks.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:30:00"), 2, "click", 1.0))
      purchases.addData(
        Ev(10, ts("2024-01-01 10:20:00"), 1, "purchase", 5.0), // in window
        Ev(11, ts("2024-01-01 12:30:00"), 2, "purchase", 5.0)) // >1h later
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, 10L, 1L)),
      s"expected only the in-window pair, got $rows")
  }

  test("stream-stream join: watermark evicts state and drops late rows " +
      "on BOTH sides") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val clicks = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val name = s"q_${System.nanoTime()}"
    val joined = EventOps.clickPurchasePairs(
      clicks.toDF().withWatermark("ts", "10 minutes"),
      purchases.toDF().withWatermark("ts", "10 minutes"))
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      // batch 1: one in-window pair; both rows enter join state
      clicks.addData(Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0))
      purchases.addData(Ev(10, ts("2024-01-01 10:20:00"), 1, "purchase", 5.0))
      q.processAllAvailable()
      val afterB1 = q.lastProgress.stateOperators(0).numRowsTotal
      assert(afterB1 >= 2, s"join state should hold both sides: $afterB1")

      // batch 2: advance BOTH watermarks to ~13:50 — far past
      // 10:00 + 1h join window + 10m delay, so batch-1 state on both
      // sides is evictable; the no-data cleanup batch applies it
      clicks.addData(Ev(2, ts("2024-01-01 14:00:00"), 2, "click", 1.0))
      purchases.addData(Ev(11, ts("2024-01-01 14:00:00"), 3, "purchase", 2.0))
      q.processAllAvailable()
      val afterB2 = q.lastProgress.stateOperators(0).numRowsTotal
      // state ceiling: ONLY the two fresh rows may remain — the
      // batch-1 rows are beyond the watermark horizon and must be gone
      assert(afterB2 <= 2,
        s"watermark did not evict join state: $afterB2 rows retained")

      // batch 3: late rows on BOTH sides, far behind the 13:50
      // watermark — a click and a purchase that WOULD pair if admitted
      clicks.addData(Ev(3, ts("2024-01-01 10:05:00"), 9, "click", 1.0))
      purchases.addData(Ev(12, ts("2024-01-01 10:10:00"), 9, "purchase", 3.0))
      q.processAllAvailable()
      val dropped = q.recentProgress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      assert(dropped >= 2,
        s"late rows on both sides must be watermark-dropped: $dropped")
    } finally q.stop()
    // output: exactly the batch-1 pair — nothing from the late pair
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((1L, 10L, 1L)),
      s"late pair must not surface in append output: $rows")
  }

  test("sliding windows assign each event to two 1h/30m windows") {
    import spark.implicits._
    val evs = Seq(Ev(1, ts("2024-01-01 10:40:00"), 1, "click", 1.0))
    val wins = EventOps.sliding(evs.toDF()).collect()
    assert(wins.map(_.getTimestamp(0)).toSet ===
      Set(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")))
  }

  test("commit-log tail: a streaming consumer of the change feed " +
      "maintains the aggregate and a restart folds only new commits") {
    import graft.engine.io.CommitLog
    import org.apache.spark.sql.functions._
    val base = s"${sys.props("java.io.tmpdir")}/graft_stream_cdf"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val root = s"$base/table"
    val stateDir = s"$base/state"
    val chk = s"$base/chk"
    CommitLog.init(spark, root)
    import spark.implicits._
    CommitLog.commit(spark, root, "snap") { (dir, _) =>
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0), (10L, 100.0))
        .toDF("k", "v").write.parquet(dir)
    }
    CommitLog.commit(spark, root, "upsert") { (dir, b) =>
      CommitLog.readVersion(spark, root, b)
        .withColumn("v", when($"k" === 2L, 25.0).otherwise($"v"))
        .write.parquet(dir)
    }
    CommitLog.commit(spark, root, "delete") { (dir, b) =>
      CommitLog.readVersion(spark, root, b).filter($"k" =!= 3L)
        .write.parquet(dir)
    }
    // the streaming consumer: tail the _commits dir as a file stream;
    // each micro-batch folds the change feed of its NEW versions onto
    // the state table (initial load at v1). AvailableNow drains what
    // exists, the checkpoint remembers which commit files were seen.
    def drain(): Unit = {
      val q = spark.readStream.format("text").load(s"$root/_commits")
        .writeStream.trigger(
          org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", chk)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val versions = batch.collect()
            .map(_.getString(0).trim.split('|')(0).toInt).sorted
          versions.foreach { v =>
            val delta =
              if (v == 1)
                CommitLog.readVersion(spark, root, 1)
                  .select(($"k" % 2).as("g"), lit(1L).as("cnt"),
                    $"v".cast("decimal(18,4)").as("dv"))
              else {
                val sign = when(col("_change_type")
                  .isin("insert", "update_postimage"), 1).otherwise(-1)
                CommitLog.changes(spark, root, v - 1, v, Seq("k"))
                  .select(($"k" % 2).as("g"), sign.cast("long").as("cnt"),
                    ($"v".cast("decimal(18,4)") * sign).as("dv"))
              }
            val prior =
              if (fs.exists(new org.apache.hadoop.fs.Path(stateDir)))
                spark.read.parquet(stateDir)
                  .select($"g", $"n".as("cnt"), $"total".as("dv"))
              else delta.limit(0)
            val next = prior.unionByName(delta)
              .groupBy("g")
              .agg(sum($"cnt").as("n"),
                sum($"dv").cast("decimal(18,4)").as("total"))
            val tmp = s"$stateDir.tmp"
            next.write.mode("overwrite").parquet(tmp)
            fs.delete(new org.apache.hadoop.fs.Path(stateDir), true)
            fs.rename(new org.apache.hadoop.fs.Path(tmp),
              new org.apache.hadoop.fs.Path(stateDir))
          }
        }.start()
      q.awaitTermination(120000)
    }
    drain()
    def stateRows() = spark.read.parquet(stateDir)
      .select($"g", $"n", $"total".cast("double"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    def headRows() = CommitLog.readLatest(spark, root)
      .groupBy(($"k" % 2).as("g"))
      .agg(count(lit(1)).as("n"),
        sum($"v".cast("decimal(18,4)")).cast("decimal(18,4)")
          .cast("double").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(stateRows() === headRows())
    // a NEW commit lands; the restarted stream folds ONLY it (the
    // checkpoint already holds v1..v3)
    CommitLog.commit(spark, root, "delete2") { (dir, b) =>
      CommitLog.readVersion(spark, root, b).filter($"k" =!= 10L)
        .write.parquet(dir)
    }
    drain()
    assert(stateRows() === headRows())
  }

  test("foreachBatch upsert sink: streaming LWW state, idempotent replay") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.engine.stream.Sinks
    val base = s"${sys.props("java.io.tmpdir")}/graft_test/" +
      s"fb_${System.nanoTime()}"
    val target = s"$base/target"
    val input = MemoryStream[Ev]
    // 2 buckets over 4 shuffle partitions: a bucket's rows come from
    // more than one merge task, so only a write clustered by bucket
    // lands each bucket as one file
    val q = Sinks.foreachBatchUpsert(input.toDF(), target,
      s"$base/ckpt", nBuckets = 2)
    def state(): Map[Long, (Long, String, Double)] =
      spark.read.parquet(target).collect()
        .map(r => r.getAs[Long]("user_id") ->
          ((r.getAs[Long]("event_id"), r.getAs[String]("event_type"),
            r.getAs[Double]("value")))).toMap
    try {
      input.addData(
        Ev(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Ev(2, ts("2024-01-01 10:05:00"), 2, "view", 2.0))
      q.processAllAvailable()
      assert(state() === Map(
        1L -> ((1L, "click", 1.0)), 2L -> ((2L, "view", 2.0))))
      // batch 2: user 1 advances, user 3 appears, user 2 untouched;
      // plus a LATE row for user 2 that must lose to its existing state
      input.addData(
        Ev(3, ts("2024-01-01 11:00:00"), 1, "purchase", 9.0),
        Ev(4, ts("2024-01-01 10:01:00"), 3, "click", 3.0),
        Ev(5, ts("2024-01-01 09:00:00"), 2, "stale", 0.0))
      q.processAllAvailable()
      val after = state()
      assert(after === Map(
        1L -> ((3L, "purchase", 9.0)),
        2L -> ((2L, "view", 2.0)), // stale row lost LWW
        3L -> ((4L, "click", 3.0))))
      // at-least-once redelivery: re-upserting batch 2's data directly
      // through the merge is a no-op (idempotent without a txn log)
      import spark.implicits._
      // uncoalesced, like the streaming batches (no AQE there)
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      Sinks.upsertBatch(Seq(
        (1L, 3L, tsUs("2024-01-01 11:00:00"), "purchase", 9.0),
        (3L, 4L, tsUs("2024-01-01 10:01:00"), "click", 3.0))
        .toDF("user_id", "event_id", "t_us", "event_type", "value"),
        target, nBuckets = 2)
      assert(state() === after, "replaying a committed batch changed state")
      // no small-file fan-out: one part file per bucket directory
      val perBucket = new java.io.File(target).listFiles().toSeq
        .filter(_.getName.startsWith("bucket="))
        .map(b => b.getName -> b.list().count(n =>
          n.startsWith("part-") && n.endsWith(".parquet")))
      assert(perBucket.nonEmpty && perBucket.forall(_._2 == 1),
        s"part files per bucket: $perBucket")
    } finally {
      q.stop()
      spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  private def tsUs(s: String): Long = ts(s).getTime * 1000L

  test("statestore read-back equals the batch aggregate, state is spread") {
    val scratch =
      s"${sys.props("java.io.tmpdir")}/graft_test/state_read_spec"
    val ev = Tables.events(spark, sf)
    val state = EventOps.aggStateDump(ev, scratch)
      .collect()
    val batch = ev.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromState = state.map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromState === batch)
    // the state really lives in multiple stores (one per shuffle
    // partition) — the distributed layout, not a single blob
    assert(state.map(_.getInt(3)).distinct.length > 1)
  }
}
