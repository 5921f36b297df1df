package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** Structured Streaming surface: the windowed agg + watermark and the
  * stateful sessionization over MemoryStream micro-batches.
  */
object EventsStreamSpec {
  // foreachBatch closures run on query-execution threads (same JVM in
  // local mode); a static concurrent collection observes their calls
  val batches =
    new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[(String, Long)])]()
}

class EventsStreamSpec extends SparkSpec {

  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("windowedCounts aggregates 5-minute tumbling windows under a watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("win_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
        EventsStream.Event(ts(2, 0), 2L, "click", 2.0),
        EventsStream.Event(ts(6, 0), 1L, "view", 5.0))
      query.processAllAvailable()
      // advance event time past watermark (10:06 + 10min) to close 10:00 window
      input.addData(EventsStream.Event(ts(20, 0), 3L, "click", 1.0))
      query.processAllAvailable()
      val rows = spark.table("win_out")
        .select($"bucket_start", $"event_type", $"n", $"sum_value")
        .as[(Timestamp, String, Long, Double)].collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(5), "view", 1L, 5.0)))
    } finally query.stop()
  }

  test("watermark delay derives from the measured lateness quantile") {
    // arrival order = event_id. 98 in-order events plus 2 that arrive
    // 6.5 minutes behind the running max → the p99 lateness is 390 s;
    // ceil to minutes (7) + 1 margin = 8.
    val base = ts(0).getTime
    val rows = (0 until 100).map { i =>
      val t =
        if (i == 50 || i == 75) new Timestamp(base + (i - 1) * 10000L - 390000L)
        else new Timestamp(base + i * 10000L)
      (i.toLong, t, 1L)
    }
    val df = rows.toDF("event_id", "ts", "user_id")
    assert(EventsStream.derivedWatermarkDelay(df) === "8 minutes")
    // an all-in-order history floors at 1 minute, never 0
    val inOrder = (0 until 50).map(i =>
      (i.toLong, new Timestamp(base + i * 1000L), 1L))
      .toDF("event_id", "ts", "user_id")
    assert(EventsStream.derivedWatermarkDelay(inOrder) === "1 minutes")
    // deploy-before-data: no rows → the documented fallback, not a crash
    assert(EventsStream.derivedWatermarkDelay(
      inOrder.filter($"event_id" < 0)) === EventsStream.DefaultWatermarkDelay)
  }

  test("the derived delay retains every event of the disorder it was sized on") {
    implicit val sq = spark.sqlContext
    // fixture: one event arrives 6.5 minutes late ACROSS micro-batches —
    // inside the derived 8-minute horizon, outside the 1-minute horizon
    // an unmeasured in-order guess would pick
    val events = Seq(
      EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
      EventsStream.Event(ts(12, 0), 1L, "click", 1.0),
      EventsStream.Event(ts(5, 30), 1L, "click", 1.0)) // late vs 10:12
    val measure = events.zipWithIndex
      .map { case (e, i) => (i.toLong, e.ts, e.user_id) }
      .toDF("event_id", "ts", "user_id")
    val delay = EventsStream.derivedWatermarkDelay(measure)
    assert(delay === "8 minutes")
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.windowedCounts(input.toDF(), delay)
      .writeStream.format("memory").queryName("derived_delay_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(events(0), events(1))
      query.processAllAvailable() // watermark → 10:12 − 8 min = 10:04
      input.addData(events(2)) // 10:05:30 ≥ watermark → retained
      query.processAllAvailable()
      input.addData(EventsStream.Event(ts(40, 0), 2L, "flush", 0.0))
      query.processAllAvailable() // advance watermark past every window
      val got = spark.table("derived_delay_out")
        .filter($"event_type" === "click")
        .select($"n").as[Long].collect().sum
      // stream ≡ batch: the windowed counts cover ALL three clicks — the
      // measured horizon lost nothing of the disorder it was sized on
      // (a 1-minute horizon drops the late row: watermark 10:11 > 10:05:30)
      assert(got === 3L)
    } finally query.stop()
  }

  test("sessionWindowStream closes native sessions and matches the batch twin on both providers") {
    implicit val sq = spark.sqlContext
    // three sessions under a 30-minute gap: user 1 chains 10:00→10:10
    // (one session), user 2 sits alone at 10:05 (arriving LATE, in a
    // later micro-batch, inside the 10-minute horizon), user 1 returns at
    // 10:50 after a 40-minute silence (new session)
    val events = Seq(
      EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
      EventsStream.Event(ts(10, 0), 1L, "view", 2.0),
      EventsStream.Event(ts(5, 0), 2L, "click", 1.0),
      EventsStream.Event(ts(50, 0), 1L, "click", 1.0))
    def run(name: String): Set[(Long, Long, Long, Long)] = {
      val input = MemoryStream[EventsStream.Event]
      val query = EventsStream.sessionWindowStream(input.toDF())
        .writeStream.format("memory").queryName(name)
        .outputMode(OutputMode.Append).start()
      try {
        input.addData(events(0), events(1))
        query.processAllAvailable() // watermark 10:10 − 10 min = 10:00
        input.addData(events(2), events(3)) // 10:05 late but in horizon
        query.processAllAvailable()
        // push the watermark past every fixture session's end (last ends
        // 10:50 + 30 min = 11:20); the flush user's own session stays
        // open and must NOT emit
        input.addData(EventsStream.Event(
          Timestamp.valueOf("2024-01-01 11:35:00"), 99L, "flush", 0.0))
        query.processAllAvailable()
        spark.table(name)
          .as[(Long, Long, Long, Long)].collect().toSet
      } finally query.stop()
    }
    // batch twin: the IDENTICAL transform over the static frame (the
    // watermark is a no-op in batch) — the stream must emit exactly the
    // sessions the batch session_window aggregation produces
    val batch = EventsStream.sessionWindowStream(events.toDF())
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch.size === 3, s"fixture must form 3 sessions: $batch")
    val onHeap = run("swin_heap")
    assert(onHeap === batch, "stream≡batch parity on the default provider")
    val rocks = StateStores.withRocksDB(spark) { run("swin_rocks") }
    assert(rocks === batch, "stream≡batch parity on RocksDB")
  }

  test("sessionWindowStream survives a checkpoint restart: open sessions restore and extend") {
    implicit val sq = spark.sqlContext
    withTempDir("graft-swin-ck") { tmp =>
      val landing = s"$tmp/landing"; val ck = s"$tmp/ck"; val out = s"$tmp/out"
      def land(rows: EventsStream.Event*): Unit =
        rows.toSeq.toDF().write.mode("append").parquet(landing)
      def start() = EventsStream.sessionWindowStream(
          spark.readStream.schema(
            "ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE")
            .parquet(landing))
        .writeStream.outputMode(OutputMode.Append)
        .option("checkpointLocation", ck)
        .format("parquet").option("path", out)
        .start()
      // run 1: open a session for user 1, then stop mid-session
      land(EventsStream.Event(ts(0, 10), 1L, "click", 1.0))
      val q1 = start()
      try q1.processAllAvailable() finally q1.stop()
      // while down: an event EXTENDING the open session lands, plus a
      // far-future flush that will close everything on restart
      land(EventsStream.Event(ts(10, 0), 1L, "view", 1.0))
      land(EventsStream.Event(
        Timestamp.valueOf("2024-01-01 12:00:00"), 99L, "flush", 0.0))
      val q2 = start()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(out)
        .as[(Long, Long, Long, Long)].collect().toSet
      // the restored state merged both events into ONE session — a lost
      // checkpoint would emit a fragment per run
      val batch = EventsStream.sessionWindowStream(Seq(
          EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
          EventsStream.Event(ts(10, 0), 1L, "view", 1.0)).toDF())
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got === batch, s"restart must merge into the batch sessions: $got")
      assert(got.exists { case (u, _, _, n) => u == 1L && n == 2L })
    }
  }

  test("sketchStream registers match the batch sketch over the same events") {
    implicit val sq = spark.sqlContext
    val events = Seq(
      EventsStream.Event(ts(0), 1L, "click", 1.0),
      EventsStream.Event(ts(1), 2L, "click", 1.0),
      EventsStream.Event(ts(2), 3L, "view", 1.0),
      EventsStream.Event(ts(3), 1L, "click", 1.0), // returner: no new register
      EventsStream.Event(ts(4), 4L, "view", 1.0))
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.sketchStream(input.toDF())
      .writeStream.format("memory").queryName("sketch_out")
      .outputMode(OutputMode.Complete).start()
    val streamed = try {
      input.addData(events(0), events(1), events(2))
      query.processAllAvailable()
      input.addData(events(3), events(4)) // folds into existing registers
      query.processAllAvailable()
      spark.table("sketch_out")
        .as[(String, Long, Long)].collect().toSet
    } finally query.stop()
    // batch twin over the same static rows — identical shared arithmetic
    val batch = EventsStream.sketchStream(events.toDF())
      .as[(String, Long, Long)].collect().toSet
    assert(streamed === batch, "stream≡batch register parity")
    assert(batch.nonEmpty && batch.size <= 2 * 64,
      "register table must stay domain-bounded")
  }

  test("quantStream registers match the batch quantile partials over the same events") {
    implicit val sq = spark.sqlContext
    val events = Seq(
      EventsStream.Event(ts(0), 1L, "click", 1.50),
      EventsStream.Event(ts(1), 2L, "click", 1.52), // same log-bucket as 1.50
      EventsStream.Event(ts(2), 3L, "view", 80.00),
      EventsStream.Event(ts(3), 1L, "click", 300.25),
      EventsStream.Event(ts(4), 4L, "view", 0.01))
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.quantStream(input.toDF())
      .writeStream.format("memory").queryName("quant_out")
      .outputMode(OutputMode.Complete).start()
    val streamed = try {
      input.addData(events(0), events(1), events(2))
      query.processAllAvailable()
      input.addData(events(3), events(4)) // folds into existing registers
      query.processAllAvailable()
      spark.table("quant_out")
        .as[(String, Long, Long, Long)].collect().toSet
    } finally query.stop()
    // batch twin over the same static rows — identical shared arithmetic
    val batch = EventsStream.quantStream(events.toDF())
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed === batch, "stream≡batch register parity")
    // 1.50 and 1.52 cents (150, 152) share an octave-8 sub-bucket: the
    // register must have FOLDED them (count 2), not grown the domain
    assert(batch.exists { case (ty, _, _, c) => ty == "click" && c == 2L })
    assert(batch.size <= 2 * 512, "register table must stay domain-bounded")
  }

  test("cmsStream registers match the batch CMS partials and never undershoot") {
    implicit val sq = spark.sqlContext
    val events = Seq(
      EventsStream.Event(ts(0), 1L, "click", 1.0),
      EventsStream.Event(ts(1), 2L, "view", 2.0),
      EventsStream.Event(ts(2), 1L, "click", 3.0), // user 1 again → same cells
      EventsStream.Event(ts(3), 3L, "view", 4.0),
      EventsStream.Event(ts(4), 1L, "error", 5.0))
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.cmsStream(input.toDF())
      .writeStream.format("memory").queryName("cms_out")
      .outputMode(OutputMode.Complete).start()
    val streamed = try {
      input.addData(events(0), events(1), events(2))
      query.processAllAvailable()
      input.addData(events(3), events(4)) // folds into existing cells
      query.processAllAvailable()
      spark.table("cms_out").as[(Long, Int, Long, Long)].collect().toSet
    } finally query.stop()
    // batch twin over the same static rows — identical shared geometry
    val batch = EventsStream.cmsStream(events.toDF())
      .as[(Long, Int, Long, Long)].collect().toSet
    assert(streamed === batch, "stream≡batch register parity")
    // every event lands in exactly CmsRows cells: total mass = 4·n
    assert(batch.toSeq.map(_._4).sum === 4L * events.size)
    assert(batch.size <= 4 * 256 * 2, "register table must stay domain-bounded")
    // point query over the day-summed registers never undershoots
    val merged = batch.groupBy(t => (t._2, t._3))
      .map { case (k, cs) => k -> cs.map(_._4).sum }
    val cells = graft.operators.Sampling
      .withCmsCells(events.map(_.user_id).distinct.toDF("user_id"))
      .as[(Long, Int, Long)].collect()
    val trueCnt = events.groupBy(_.user_id).map { case (u, es) => u -> es.size.toLong }
    cells.groupBy(_._1).foreach { case (u, cs) =>
      val est = cs.map { case (_, r, b) => merged.getOrElse((r, b), 0L) }.min
      assert(est >= trueCnt(u), s"user $u estimated $est < true ${trueCnt(u)}")
    }
  }

  test("jseStream registers equal the batch sketch of running key counts") {
    implicit val sq = spark.sqlContext
    val events = Seq(
      EventsStream.Event(ts(0), 1L, "click", 1.0),
      EventsStream.Event(ts(1), 2L, "view", 2.0),
      EventsStream.Event(ts(2), 1L, "click", 3.0),
      EventsStream.Event(ts(3), 3L, "view", 4.0),
      EventsStream.Event(ts(4), 1L, "error", 5.0))
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.jseStream(input.toDF())
      .writeStream.format("memory").queryName("jse_out")
      .outputMode(OutputMode.Complete).start()
    val streamed = try {
      input.addData(events(0), events(1), events(2))
      query.processAllAvailable()
      input.addData(events(3), events(4))
      query.processAllAvailable()
      spark.table("jse_out").as[(Int, Long, Long, Long)].collect().toSet
    } finally query.stop()
    // linearity: per-event ±1 folds equal the batch sketch of the key
    // COUNTS — the property that makes the online registers usable as a
    // drop-in side of the join_size_est inner product
    val batchOfCounts = graft.operators.Sampling.withJseCells(
        events.toDF().groupBy($"user_id".as("k")).count()
          .withColumnRenamed("count", "c"))
      .groupBy($"r", $"b")
      .agg(org.apache.spark.sql.functions.sum($"c" * $"sgn").as("v"),
        org.apache.spark.sql.functions.sum($"c").as("u"))
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(streamed === batchOfCounts, "stream ≡ sketch(key counts)")
    // unsigned register mass = 5 cells per event; state domain bounded
    assert(streamed.toSeq.map(_._4).sum === 5L * events.size)
    assert(streamed.size <= 5 * 256)
  }

  test("dedupStream drops duplicate (user, type) events within the watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.dedupStream(input.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventsStream.Event(ts(0), 1L, "click", 1.0),
        EventsStream.Event(ts(1), 1L, "click", 2.0), // dup key → dropped
        EventsStream.Event(ts(1), 1L, "view", 3.0),
        EventsStream.Event(ts(2), 2L, "click", 4.0))
      query.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select($"user_id", $"event_type").as[(Long, String)].collect()
      assert(rows.length === 3)
      assert(rows.toSet === Set((1L, "click"), (1L, "view"), (2L, "click")))
    } finally query.stop()
  }

  test("run() streams a growing parquet directory into aggregated parquet") {
    import org.apache.spark.sql.functions.lit
    withTempDir("graft-stream") { tmp =>
      val eventsDir = s"$tmp/events"; val outDir = s"$tmp/out"; val ck = s"$tmp/ck"
      // land a first micro-batch file in the production layout: ts as int64
      // NANOS (the engine's events.parquet carries TIMESTAMP(NANOS), read
      // repo-wide as raw longs via nanosAsLong)
      def landing(events: Seq[EventsStream.Event]) = events.toDF()
        .withColumn("ts", org.apache.spark.sql.functions.expr("unix_micros(ts) * 1000"))
      landing(Seq(EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
        EventsStream.Event(ts(2, 0), 2L, "click", 2.0)))
        .write.parquet(eventsDir)
      val query = EventsStream.run(spark, eventsDir, outDir, ck)
      try {
        query.processAllAvailable()
        // land a second file far past the watermark → closes the first window
        landing(Seq(EventsStream.Event(ts(20, 0), 3L, "view", 9.0)))
          .write.mode("append").parquet(eventsDir)
        query.processAllAvailable()
        val out = spark.read.parquet(outDir)
        assert(out.columns.toSeq ===
          Seq("bucket_start", "event_type", "n", "sum_value"))
        val closed = out.filter(lit(true)).collect()
        assert(closed.exists(r => r.getString(1) == "click" && r.getLong(2) == 2L))
      } finally query.stop()
    }
  }

  test("run() starts against an empty landing dir and catches the first file") {
    import org.apache.spark.sql.functions.expr
    // the production deploy order: the stream starts BEFORE any data
    // lands. The ts-unit sniff is undecidable on the empty dir, so the
    // plan must branch per row instead of baking a guessed factor —
    // exercised here by landing BOTH units after startup: a
    // TIMESTAMP(MICROS) file (the round-8 corpus layout; the declared
    // BIGINT schema reads raw micros) and an int64-nanos file. Both
    // must land in the same correct event-time windows.
    withTempDir("graft-empty") { tmp =>
      val eventsDir = s"$tmp/events"; val outDir = s"$tmp/out"; val ck = s"$tmp/ck"
      java.nio.file.Files.createDirectory(java.nio.file.Paths.get(eventsDir))
      val query = EventsStream.run(spark, eventsDir, outDir, ck)
      try {
        query.processAllAvailable() // zero batches: must idle, not die
        assert(query.isActive)
        // micros file: write the Timestamp column as TIMESTAMP(MICROS)
        // (the session default is legacy INT96, which no BIGINT read maps)
        val prevOut = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
        spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        try Seq(EventsStream.Event(ts(0, 10), 1L, "click", 1.0)).toDF()
          .write.mode("append").parquet(eventsDir)
        finally prevOut match {
          case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
          case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
        }
        // nanos file: the engine's own int64 layout
        Seq(EventsStream.Event(ts(1, 0), 3L, "click", 2.0),
          EventsStream.Event(ts(20, 0), 2L, "view", 9.0)).toDF()
          .withColumn("ts", expr("unix_micros(ts) * 1000"))
          .write.mode("append").parquet(eventsDir)
        query.processAllAvailable()
        val out = spark.read.parquet(outDir).collect()
        // both click events (one per unit) fell into the SAME 5-minute
        // window — a baked wrong factor would send one to ~1970
        assert(out.exists(r => r.getString(1) == "click" && r.getLong(2) == 2L),
          s"clicks from the two units did not co-window: ${out.toSeq}")
      } finally query.stop()
    }
  }

  test("run() restarted from its checkpoint resumes exactly-once") {
    import org.apache.spark.sql.functions.expr
    withTempDir("graft-restart") { tmp =>
      val eventsDir = s"$tmp/events"; val outDir = s"$tmp/out"; val ck = s"$tmp/ck"
      def landing(events: Seq[EventsStream.Event]) = events.toDF()
        .withColumn("ts", expr("unix_micros(ts) * 1000"))
      landing(Seq(
        EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
        EventsStream.Event(ts(0, 40), 2L, "click", 2.0),
        EventsStream.Event(ts(2, 0), 2L, "view", 3.0)))
        .write.parquet(eventsDir)
      val q1 = EventsStream.run(spark, eventsDir, outDir, ck)
      try q1.processAllAvailable() finally q1.stop()
      // crash/redeploy: a NEW query object, SAME checkpoint. New data lands
      // while the query is down; the restart must pick up only the unseen
      // file, close the first windows once, and never re-emit them.
      landing(Seq(EventsStream.Event(ts(20, 0), 3L, "view", 9.0)))
        .write.mode("append").parquet(eventsDir)
      val q2 = EventsStream.run(spark, eventsDir, outDir, ck)
      try {
        q2.processAllAvailable()
        val out = spark.read.parquet(outDir)
          .select($"bucket_start", $"event_type", $"n", $"sum_value")
          .as[(Timestamp, String, Long, Double)].collect().toSeq
        // the [10:00, 10:05) click window closed EXACTLY once with both rows
        val clickRows = out.filter(r => r._2 == "click")
        assert(clickRows === Seq((ts(0, 0), "click", 2L, 3.0)),
          s"restart must not duplicate or split the closed window: $out")
        // and the pre-crash view event survived into its own window once
        assert(out.count(r => r._2 == "view" && r._3 == 1L && r._4 == 3.0) === 1)
      } finally q2.stop()
    }
  }

  test("clickPurchaseJoin attributes purchases within 10 minutes of a click") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.clickPurchaseJoin(input.toDF())
      .writeStream.format("memory").queryName("attr_out")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventsStream.Event(ts(0), 1L, "click", 1.0),
        EventsStream.Event(ts(5), 1L, "purchase", 50.0), // within 10 min → joins
        EventsStream.Event(ts(12), 1L, "purchase", 70.0), // >10 min after → no
        EventsStream.Event(ts(5), 2L, "purchase", 9.0), // no click for user 2
        EventsStream.Event(ts(6), 3L, "click", 1.0)) // click without purchase
      query.processAllAvailable()
      // advance both watermarks so the joined result is emitted in Append mode
      input.addData(
        EventsStream.Event(ts(40), 9L, "click", 0.0),
        EventsStream.Event(ts(40), 9L, "purchase", 0.0))
      query.processAllAvailable()
      val rows = spark.table("attr_out")
        .select($"user_id", $"purchase_value")
        .as[(Long, Double)].collect().toSet
      assert(rows.contains((1L, 50.0)), s"attributed purchase missing: $rows")
      assert(!rows.contains((1L, 70.0)), "out-of-horizon purchase joined")
      assert(!rows.exists(_._1 == 2L), "purchase without click joined")
    } finally query.stop()
  }

  test("clickPurchaseJoin: streamed micro-batches emit exactly the batch join") {
    // The registered events_clickjoin batch query calls THIS SAME transform
    // (watermarks eliminate to no-ops in batch), so this asserts the
    // micro-batch execution of the one shared plan converges to its batch
    // result — the stream≡batch contract behind the DuckDB oracle gate.
    val events = Seq(
      EventsStream.Event(ts(0), 1L, "click", 1.0),
      EventsStream.Event(ts(5), 1L, "purchase", 50.0), // in horizon
      EventsStream.Event(ts(10), 1L, "purchase", 60.0), // boundary: inclusive
      EventsStream.Event(ts(12), 1L, "purchase", 70.0), // out of horizon
      EventsStream.Event(ts(3), 2L, "click", 1.0),
      EventsStream.Event(ts(4), 2L, "click", 2.0), // two clicks, one purchase
      EventsStream.Event(ts(8), 2L, "purchase", 30.0), // joins BOTH clicks
      EventsStream.Event(ts(2), 3L, "purchase", 5.0), // purchase BEFORE click
      EventsStream.Event(ts(6), 3L, "click", 1.0))
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.clickPurchaseJoin(input.toDF())
      .writeStream.format("memory").queryName("attr_parity")
      .outputMode(OutputMode.Append).start()
    try {
      // two micro-batches, split mid-user so the join must buffer state
      input.addData(events.take(4): _*)
      query.processAllAvailable()
      input.addData(events.drop(4): _*)
      query.processAllAvailable()
      // sentinel advances both watermarks past every real event so Append
      // mode flushes all joined rows (excluded from the comparison below)
      input.addData(EventsStream.Event(ts(59), 99L, "click", 0.0))
      query.processAllAvailable()
      val streamed = spark.table("attr_parity").filter($"user_id" =!= 99L)
        .select($"user_id", $"click_ts", $"purchase_ts", $"click_value",
          $"purchase_value")
        .as[(Long, Timestamp, Timestamp, Double, Double)].collect().sorted
      val batch = EventsStream.clickPurchaseJoin(events.toDF())
        .select($"user_id", $"click_ts", $"purchase_ts", $"click_value",
          $"purchase_value")
        .as[(Long, Timestamp, Timestamp, Double, Double)].collect().sorted
      assert(batch.nonEmpty, "batch twin returned no joined rows")
      assert(streamed.toSeq === batch.toSeq)
      // spot-check the semantics both modes agreed on
      assert(batch.count(_._1 == 2L) === 2, "purchase must join both clicks")
      assert(!batch.exists { case (u, _, _, _, pv) => u == 1L && pv == 70.0 },
        "out-of-horizon purchase joined")
      assert(batch.exists { case (u, _, _, _, pv) => u == 1L && pv == 60.0 },
        "10-minute boundary must be inclusive")
    } finally query.stop()
  }

  test("clickPurchaseJoinOuter emits unmatched clicks as nulls on watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.clickPurchaseJoinOuter(input.toDF())
      .writeStream.format("memory").queryName("attr_outer")
      .outputMode(OutputMode.Append).start()
    try {
      input.addData(
        EventsStream.Event(ts(0), 1L, "click", 1.0),
        EventsStream.Event(ts(5), 1L, "purchase", 50.0), // converts
        EventsStream.Event(ts(6), 3L, "click", 2.0)) // abandoned
      query.processAllAvailable()
      // the user-3 null row must NOT exist yet: within the horizon a
      // purchase could still arrive, so the engine may not decide
      val early = spark.table("attr_outer")
        .filter($"user_id" === 3L).count()
      assert(early === 0L, "null row emitted before the watermark decided")
      // sentinel far past every window end → watermark advances → the
      // abandoned click's fate is decidable and the null row flushes
      // the global watermark is min(click side, purchase side): sentinels
      // must advance BOTH streams or the outer state never becomes
      // decidable (the inner-join tests learned the same lesson)
      input.addData(
        EventsStream.Event(ts(59), 99L, "click", 0.0),
        EventsStream.Event(ts(59), 99L, "purchase", 0.0))
      query.processAllAvailable()
      input.addData(
        EventsStream.Event(Timestamp.valueOf("2024-01-01 12:00:00"), 98L, "click", 0.0),
        EventsStream.Event(Timestamp.valueOf("2024-01-01 12:00:00"), 98L, "purchase", 0.0))
      query.processAllAvailable()
      val rows = spark.table("attr_outer")
        .select($"user_id", $"purchase_value".as[Option[Double]],
          $"click_value")
        .as[(Long, Option[Double], Double)].collect()
      assert(rows.exists(r => r._1 == 1L && r._2.contains(50.0)),
        s"converted click lost its purchase: ${rows.toSeq}")
      assert(rows.exists(r => r._1 == 3L && r._2.isEmpty),
        s"abandoned click never emitted with null purchase: ${rows.toSeq}")
      // matched rows agree with the inner join on the same data
      val matchedUsers = rows.filter(_._2.nonEmpty).map(_._1).toSet
      assert(matchedUsers.intersect(Set(1L, 3L)) === Set(1L))
    } finally query.stop()
  }

  test("segmentWindowCounts: stream-static enrichment emits exactly the batch result") {
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "AUTO"), (2L, "RETAIL")).toDF("user_id", "segment")
    val events = Seq(
      EventsStream.Event(ts(0, 10), 1L, "click", 1.5),
      EventsStream.Event(ts(2, 0), 1L, "click", 2.25),
      EventsStream.Event(ts(3, 0), 2L, "view", 4.0),
      EventsStream.Event(ts(6, 0), 7L, "click", 8.0)) // no dim row → UNKNOWN
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream
      .segmentWindowCounts(input.toDF().select($"ts", $"user_id", $"value"), dim)
      .writeStream.format("memory").queryName("seg_out")
      .outputMode(OutputMode.Append).start()
    try {
      // split mid-window so the agg state must carry across micro-batches
      input.addData(events.take(2): _*)
      query.processAllAvailable()
      input.addData(events.drop(2): _*)
      query.processAllAvailable()
      // sentinel far past the watermark closes every real window
      input.addData(EventsStream.Event(ts(40), 99L, "view", 0.0))
      query.processAllAvailable()
      val streamed = spark.table("seg_out")
        .filter($"bucket" < ts(40).getTime / 1000)
        .as[(Long, String, Long, Double)].collect().sorted
      val batch = EventsStream
        .segmentWindowCounts(events.toDF().select($"ts", $"user_id", $"value"), dim)
        .as[(Long, String, Long, Double)].collect().sorted
      assert(streamed.toSeq === batch.toSeq)
      assert(batch.map(_._2).toSet === Set("AUTO", "RETAIL", "UNKNOWN"),
        "enrichment must hit, differ by user, and default unmatched")
      assert(batch.find(r => r._1 == ts(0).getTime / 1000 && r._2 == "AUTO")
        .exists(r => r._3 == 2L && r._4 == 3.75),
        "same-window same-segment events must aggregate exactly")
    } finally query.stop()
  }

  test("runForeachBatch hands closed windows to the sink with increasing batch ids") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    withTempDir("graft-feb") { ck =>
      val query = EventsStream.runForeachBatch(input.toDF(), ck) { (df, id) =>
        val rows = df.select("event_type", "n").collect()
          .map(r => (r.getString(0), r.getLong(1))).toSeq
        EventsStreamSpec.batches.add(id -> rows)
      }
      try {
        input.addData(
          EventsStream.Event(ts(0, 10), 1L, "click", 1.0),
          EventsStream.Event(ts(2, 0), 2L, "click", 2.0))
        query.processAllAvailable()
        // advance past the watermark so the 10:00 window closes and is emitted
        input.addData(EventsStream.Event(ts(20, 0), 3L, "view", 9.0))
        query.processAllAvailable()
        import scala.jdk.CollectionConverters._
        val seen = EventsStreamSpec.batches.asScala.toSeq.sortBy(_._1)
        assert(seen.map(_._1) === seen.map(_._1).sorted, "batch ids increase")
        assert(seen.flatMap(_._2).contains(("click", 2L)),
          s"closed click window not delivered: $seen")
      } finally query.stop()
    }
  }

  test("sessionize keeps running per-user state across micro-batches") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream
      .sessionize(input.toDS(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode(OutputMode.Update).start()
    try {
      input.addData(
        EventsStream.Event(ts(0), 1L, "click", 1.0),
        EventsStream.Event(ts(1), 1L, "click", 2.0),
        EventsStream.Event(ts(1), 2L, "view", 7.0))
      query.processAllAvailable()
      input.addData(EventsStream.Event(ts(2), 1L, "view", 4.0))
      query.processAllAvailable()
      val byUser = spark.table("sess_out")
        .as[EventsStream.SessionUpdate].collect()
        .groupBy(_.user_id).view.mapValues(_.last).toMap
      assert(byUser(1L).n_events === 3L) // state carried across batches
      assert(byUser(1L).sum_value === 7.0)
      assert(byUser(2L).n_events === 1L)
      assert(!byUser(1L).closed)
    } finally query.stop()
  }

  test("lastTouch attributes purchases identical to the batch lag buckets") {
    implicit val sq = spark.sqlContext
    def at(day: Int, hour: Int, min: Int = 0): Timestamp =
      Timestamp.valueOf(f"2024-01-${day + 1}%02d $hour%02d:$min%02d:00")
    val input = MemoryStream[EventsStream.Event]
    val query = EventsStream.lastTouch(input.toDS())
      .writeStream.format("memory").queryName("touch_out")
      .outputMode(OutputMode.Append).start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[EventsStream.Event]
    def feed(batch: EventsStream.Event*): Unit = {
      fed ++= batch; input.addData(batch); query.processAllAvailable()
    }
    try {
      feed(EventsStream.Event(at(0, 10), 1L, "click", 0.0),
        // same-timestamp click + purchase: the click arrives first, so
        // the purchase attributes at lag 0 (the batch event_id tiebreak)
        EventsStream.Event(at(0, 10), 1L, "purchase", 5.0),
        EventsStream.Event(at(0, 10, 30), 1L, "purchase", 7.0), // lt_1h
        EventsStream.Event(at(0, 15), 1L, "purchase", 9.0),     // 1h_24h
        EventsStream.Event(at(0, 11), 2L, "purchase", 3.0))     // organic
      // state survives the micro-batch boundary: day-3 purchase still
      // sees the day-0 click (1d_7d); day-9 purchase aged past 7d
      feed(EventsStream.Event(at(3, 10), 1L, "purchase", 2.0),
        EventsStream.Event(at(9, 10), 1L, "purchase", 1.0),
        EventsStream.Event(at(3, 11), 2L, "view", 1.0))
      // day-20 batch runs with the day-9 watermark, which passed user 1's
      // (click + 7 days) timeout → the TTL evicts user 1's state; user 3's
      // click is the only state row left (a click yields no output row, so
      // the scalar replay below is unaffected)
      feed(EventsStream.Event(at(20, 10), 3L, "click", 0.0))
      val stateRows = query.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
        .filter(_ >= 0)
      assert(stateRows.lastOption === Some(1L),
        s"7-day TTL must leave only user 3's state row: $stateRows")
      val got = spark.table("touch_out").as[EventsStream.Attribution]
        .collect().toSeq.sortBy(r => (r.user_id, r.ts_us, r.value))
      // scalar replay of the batch events_attribution bucket rule
      def us(t: Timestamp) = (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
      val expect = fed.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        var lastClick = Option.empty[Long]
        es.flatMap { e =>
          val t = us(e.ts)
          e.event_type match {
            case "click" => lastClick = Some(t); None
            case "purchase" =>
              val b = lastClick match {
                case Some(c) if t - c <= 3600000000L => "lt_1h"
                case Some(c) if t - c <= 86400000000L => "1h_24h"
                case Some(c) if t - c <= 604800000000L => "1d_7d"
                case _ => "organic"
              }
              Some(EventsStream.Attribution(u, t, b, e.value))
            case _ => None
          }
        }
      }.sortBy(r => (r.user_id, r.ts_us, r.value))
      assert(got === expect)
      // every bucket including the 7-day age-out must have materialized
      assert(got.map(_.attribution).toSet ===
        Set("lt_1h", "1h_24h", "1d_7d", "organic"))
    } finally query.stop()
  }

  test("rateLimit annotates trailing-window counts identical to the batch frame") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[EventsStream.Event]
    val windowMicros = 120L * 1000000L // 2 minutes
    val query = EventsStream.rateLimit(input.toDS(), windowMicros, maxInWindow = 2)
      .writeStream.format("memory").queryName("rate_out")
      .outputMode(OutputMode.Append).start()
    val fed = scala.collection.mutable.ArrayBuffer.empty[EventsStream.Event]
    def feed(batch: EventsStream.Event*): Unit = {
      fed ++= batch; input.addData(batch); query.processAllAvailable()
    }
    try {
      // state must survive micro-batch boundaries AND evict aged entries
      feed(EventsStream.Event(ts(0), 1L, "click", 1.0),
        EventsStream.Event(ts(0, 30), 1L, "click", 1.0),
        EventsStream.Event(ts(1), 2L, "view", 1.0))
      feed(EventsStream.Event(ts(1, 30), 1L, "click", 1.0), // 3 in 2min → limited
        EventsStream.Event(ts(2, 50), 1L, "click", 1.0))    // first two aged out
      feed(EventsStream.Event(ts(3), 2L, "view", 1.0))
      // dormant-key TTL: user 1's timeout is (10:02:50 + window); the
      // 10:31 batch runs with the 10:30-derived watermark (10:20), which
      // passed it → user 1's state is evicted, only user 2 remains (the
      // extra user-2 events fold into the replay below like any others)
      feed(EventsStream.Event(ts(30), 2L, "view", 1.0))
      feed(EventsStream.Event(ts(31), 2L, "view", 1.0))
      val stateRows = query.recentProgress.toSeq
        .flatMap(_.stateOperators.toSeq.map(_.numRowsTotal))
        .filter(_ >= 0)
      assert(stateRows.lastOption === Some(1L),
        s"window TTL must leave only user 2's state row: $stateRows")
      val got = spark.table("rate_out").as[EventsStream.RateVerdict]
        .collect().toSeq.sortBy(r => (r.user_id, r.ts_us))
      // scalar replay of the batch events_rolling frame: [t-W, t] inclusive
      def us(t: Timestamp) = (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L
      val expect = fed.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        val times = es.map(e => us(e.ts)).sorted
        times.map { t =>
          val n = times.count(x => x >= t - windowMicros && x <= t).toLong
          EventsStream.RateVerdict(u, t, n, n > 2)
        }
      }.sortBy(r => (r.user_id, r.ts_us))
      assert(got === expect)
      assert(got.exists(_.limited) && got.exists(!_.limited))
      // the eviction really happened: the 10:02:50 event saw only itself+1
      assert(got.find(r => r.user_id == 1L && r.ts_us == us(ts(2, 50))).get.n_window === 2L)
    } finally query.stop()
  }
}
