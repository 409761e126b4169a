package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventStreams

/** Streaming semantics pinned against the batch forms (which are
  * themselves DuckDB-oracle-checked): same windows, same session rule. */
class StreamingSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("streaming hourly window agg equals the batch q_hourly_events") {
    val stream = EventStreams.hourlyCounts(EventStreams.readEventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("hourly_out")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("hourly_out")
      .orderBy("hour_start", "event_type").collect().toSeq
    val want = Catalog.byName("q_hourly_events").fn(spark, dir).collect().toSeq
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
    assert(got.nonEmpty)
  }

  test("multi-micro-batch stream converges to the same result") {
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      // split events into 4 files -> maxFilesPerTrigger=1 gives 4 batches
      val splitDir = tempDir("evsplit").toString
      spark.read.parquet(s"$dir/events.parquet")
        .repartition(4).write.mode("overwrite").parquet(splitDir)
      val stream = EventStreams.hourlyCounts(
        EventStreams.readSplitStream(spark, splitDir))
      val q = stream.writeStream
        .format("memory").queryName("hourly_multi")
        .outputMode("complete")
        .start()
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.length >= 4, s"expected >=4 micro-batches, saw ${q.recentProgress.length}")
      val got = spark.table("hourly_multi")
        .orderBy("hour_start", "event_type").collect().toSeq
      val want = Catalog.byName("q_hourly_events").fn(spark, dir).collect().toSeq
      assert(got == want)
    }
  }

  test("dropDuplicatesWithinWatermark dedups repeats across micro-batches") {
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      // two files with the SAME events -> every id arrives twice
      val dupDir = tempDir("evdup").toString
      val once = spark.read.parquet(s"$dir/events.parquet")
      once.coalesce(1).write.mode("overwrite").parquet(dupDir)
      once.coalesce(1).write.mode("append").parquet(dupDir)
      val stream = EventStreams.dedupWithinWatermark(
        EventStreams.readSplitStream(spark, dupDir))
      val q = stream.writeStream
        .format("memory").queryName("dedup_out")
        .outputMode("append")
        .start()
      try q.processAllAvailable() finally q.stop()
      val total = spark.table("dedup_out").count()
      val distinctIds = once.select("event_id").distinct().count()
      assert(total == distinctIds, s"emitted $total, want $distinctIds unique events")
    }
  }

  test("streaming sliding window equals the batch q_sliding_window") {
    val stream = EventStreams.slidingCounts(EventStreams.readEventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("sliding_out")
      .outputMode("complete")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("sliding_out")
      .orderBy("win_start", "event_type").collect().toSeq
    val want = Catalog.byName("q_sliding_window").fn(spark, dir).collect().toSeq
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
    assert(got.nonEmpty)
  }

  test("stream-stream interval join equals the batch q_click_purchase_join") {
    val stream = EventStreams.clickPurchaseJoin(
      EventStreams.readEventStream(spark, dir))
    val q = stream.writeStream
      .format("memory").queryName("ss_join_out")
      .outputMode("append")
      .start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("ss_join_out")
      .orderBy("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    val want = Catalog.byName("q_click_purchase_join").fn(spark, dir)
      .select("user_id", "click_id", "purchase_id", "purchase_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got == want, s"stream ${got.size} rows vs batch ${want.size}")
    assert(got.nonEmpty)
  }

  test("stream-stream LEFT OUTER interval join: unmatched clicks emit " +
      "null rows exactly once on watermark eviction, survive a mid-run " +
      "restart, and match the batch q_click_purchase_outer") {
    import spark.implicits._
    val srcDir = tempDir("graft_cpo_src")
    val ckpt = tempDir("graft_cpo_ck").toString
    val outDir = tempDir("graft_cpo_out").toString
    // event-time-ordered replay in 4 one-file micro-batches so the
    // watermark ADVANCES between triggers (outer rows only emit when
    // the watermark passes click_ts + 30 min + 1 h)
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("tsUs"), col("value"))
      .orderBy("tsUs", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3), r.getDouble(4)))
    val chunks = rows.grouped(rows.length / 4 + 1).toSeq
    def writeChunk(c: Seq[(Long, Long, String, Long, Double)],
        name: String): Unit = {
      val tmp = tempDir("graft_cpo_one").toString
      c.toDF("event_id", "user_id", "event_type", "tsUs", "value")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, srcDir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def startJoin() = graft.streaming.EventStreams.clickPurchaseLeftOuter(
        spark.readStream
          .schema("event_id long, user_id long, event_type string, " +
            "tsUs long, value double")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .select(col("event_id"), col("user_id"), col("event_type"),
            timestamp_micros(col("tsUs")).as("ts"), col("value")))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // phase 1: first half, then STOP mid-run
    writeChunk(chunks(0), "00_a.parquet")
    writeChunk(chunks(1), "01_b.parquet")
    val q1 = startJoin()
    try q1.processAllAvailable() finally q1.stop()
    val p1 = spark.read.parquet(outDir)
    val phase1Total = p1.count()
    val phase1Nulls = p1.filter(col("purchase_id").isNull).count()
    assert(phase1Total > 0, "restart must land mid-emission")
    // phase 2: rest of the corpus, then a flush sentinel on BOTH sides
    // (the global watermark is the MIN across the click and purchase
    // branches, so each needs a late event) 3 h past the corpus — every
    // real click's eviction horizon closes
    writeChunk(chunks(2), "02_c.parquet")
    writeChunk(chunks(3), "03_d.parquet")
    val flushUs = rows.last._4 + 3L * 3600000000L
    writeChunk(Seq((-1L, -1L, "click", flushUs, 0.0),
      (-2L, -1L, "purchase", flushUs, 0.0)), "04_e.parquet")
    val q2 = startJoin()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .filter(col("user_id") =!= -1L) // drop the sentinel pair
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSeq
    val want = Catalog.byName("q_click_purchase_outer").fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toSeq
    assert(got.sorted == want.sorted,
      s"stream ${got.size} rows vs batch ${want.size}")
    // the semantics under test: unmatched clicks DID emit null rows,
    // exactly once each (exactly-once across the restart: no click_id
    // may appear as unmatched twice)
    val unmatched = got.filter(_._3.isEmpty)
    assert(unmatched.nonEmpty, "no unmatched clicks in the fixture")
    assert(unmatched.map(x => (x._1, x._2)).distinct.size == unmatched.size,
      "an evicted click emitted more than once across the restart")
    assert(got.size > phase1Total - phase1Nulls,
      "phase 2 must add rows — eviction state carried across the restart")
  }

  test("checkpointed query restarts without reprocessing or duplicating") {
    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      val srcDir = tempDir("ckpt-src").toString
      val outDir = tempDir("ckpt-out").toString + "/t"
      val ckpt = tempDir("ckpt-ck").toString
      val once = spark.read.parquet(s"$dir/events.parquet")
      once.coalesce(1).write.mode("overwrite").parquet(srcDir)
      once.coalesce(1).write.mode("append").parquet(srcDir)

      def run(): Unit = {
        val q = EventStreams.dedupWithinWatermark(
            EventStreams.readSplitStream(spark, srcDir))
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckpt)
          .outputMode("append").start()
        try q.processAllAvailable() finally q.stop()
      }

      run()
      val n1 = spark.read.parquet(outDir).count()
      assert(n1 == once.select("event_id").distinct().count())
      // restart with no new input: the checkpoint must prevent any
      // reprocessing — same files, same output, no duplicates
      run()
      assert(spark.read.parquet(outDir).count() == n1)
      // a third copy arrives after restart: every row is either late
      // (beyond watermark) or a known id (still in state) — nothing new
      once.coalesce(1).write.mode("append").parquet(srcDir)
      run()
      assert(spark.read.parquet(outDir).count() == n1)
    }
  }

  test("foreachBatch partitioned sink lands every event exactly once") {
    val outDir = tempDir("psink").toString + "/t"
    val ckpt = tempDir("psink-ck").toString
    val q = EventStreams.writePartitionedStream(
      EventStreams.readEventStream(spark, dir), outDir, ckpt)
    try q.processAllAvailable() finally q.stop()
    val back = spark.read.parquet(outDir)
    val src = graft.sources.Tables.events(spark, dir)
    assert(back.count() == src.count())
    assert(back.select("event_id").distinct().count() == src.count())
    // hive layout: day=... directories exist and prune on read
    val days = new java.io.File(outDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("day="))
    assert(days.length > 1, s"expected day= partition dirs, got ${days.toSeq}")
  }

  test("flatMapGroupsWithState sessionization matches the batch gap rule") {
    import spark.implicits._
    val evs = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"), col("value"))
      .as[EventStreams.Ev]
    val stream = EventStreams.sessionize(evs.repartition(4))

    // batch oracle: q_sessionize (oracle-checked); a single-batch FMGWS
    // run emits every session except each user's last (still open in state)
    val batch = Catalog.byName("q_sessionize").fn(spark, dir)
    val lastSid = batch.groupBy("user_id").agg(max("sid").as("last"))
    val wantClosed = batch.join(lastSid, "user_id")
      .filter(col("sid") < col("last"))
      .select(col("user_id"), col("sid"), col("n_events"), col("session_value"))
      .orderBy("user_id", "sid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSeq

    val got = stream.toDF()
      .select(col("user_id"), col("sid"), col("n_events"),
        round(col("session_value"), 2).as("v"))
      .orderBy("user_id", "sid")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        math.round(r.getDouble(3) * 100)))
      .toSeq
    assert(got == wantClosed, s"fmgws ${got.size} vs batch-closed ${wantClosed.size}")
    assert(got.nonEmpty)
  }

  test("idle-flush sessionize emits an idle user's open session via the " +
      "event-time timeout and matches the gap rule for active users") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val us = 1000000L
    val in = MemoryStream[EventStreams.Ev](spark)
    val q = EventStreams.sessionizeIdleFlush(in.toDS())
      .writeStream.format("memory").queryName("sess_idle")
      .outputMode("append").start()
    try {
      // user 7: two events 10 s apart, then idle forever; plain
      // sessionize would NEVER emit this session (ts offset from epoch
      // zero — the initial watermark is 0 and a 0-ts row is "late")
      in.addData(EventStreams.Ev(7L, 1000 * us, 1.0),
        EventStreams.Ev(7L, 1010 * us, 2.0))
      q.processAllAvailable()
      assert(spark.table("sess_idle").isEmpty,
        "nothing may close while the gap is still open under the watermark")
      // user 8, two hours later: advances the watermark far past
      // user 7's last+30min...
      in.addData(EventStreams.Ev(8L, 7200 * us, 5.0))
      q.processAllAvailable()
      // ...and the NEXT trigger fires the expired timeout
      in.addData(EventStreams.Ev(8L, 7210 * us, 1.0))
      q.processAllAvailable()
      // user 7 RETURNS after the flush discarded their state; the new
      // session must not reuse an old sid (start-timestamp sids)
      in.addData(EventStreams.Ev(7L, 9000 * us, 4.0))
      q.processAllAvailable()
      in.addData(EventStreams.Ev(8L, 14000 * us, 1.0))
      q.processAllAvailable()
      in.addData(EventStreams.Ev(8L, 14010 * us, 1.0))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sess_idle")
      .filter(col("user_id") === 7L).orderBy("session_start")
      .collect().map(r => (r.getAs[Long]("sid"), r.getAs[Long]("n_events"),
        r.getAs[Long]("session_end"), r.getAs[Double]("session_value")))
    assert(got.toSeq == Seq(
      (1000 * us, 2L, 1010 * us, 3.0),
      (9000 * us, 1L, 9000 * us, 4.0)),
      s"flushed sessions must carry unique start-time sids, got ${got.toSeq}")
    assert(got.map(_._1).distinct.length == got.length,
      "a returning user must never collide with their own earlier sid")
  }

  test("stateful streaming funnel matches the batch q_funnel_steps counts") {
    import spark.implicits._
    val evs = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"),
        col("event_type"))
      .as[EventStreams.FEv]
    val got = EventStreams.funnelStream(evs.repartition(4)).toDF()
      .groupBy("step").count().orderBy("step")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val want = Catalog.byName("q_funnel_steps").fn(spark, dir)
      .select("step", "n_users")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      .filter(_._2 > 0) // the state machine emits nothing for an empty step
    assert(got == want, s"stream $got vs batch $want")
    assert(got.nonEmpty)
  }

  test("streaming prequential anomaly matches the batch " +
      "q_anomaly_prequential row across micro-batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // closed hours, globally hour-ordered: chunking a global hour sort
    // preserves per-type event-time order across batches (the stream's
    // contract — the upstream watermark emits closed windows in order)
    val hours = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hourUs"))
      .agg(count(lit(1)).as("cnt"))
      .as[EventStreams.HourCount]
      .collect().sortBy(h => (h.hourUs, h.event_type))
    val in = MemoryStream[EventStreams.HourCount](spark)
    val q = EventStreams.anomalyStream(in.toDS())
      .writeStream.format("memory").queryName("anom")
      .outputMode("append").start()
    try {
      hours.grouped(hours.length / 3 + 1).foreach { chunk =>
        in.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val got = spark.table("anom").collect().map(r =>
      (r.getAs[String]("event_type"),
        fmt.format(java.time.Instant.ofEpochSecond(
          r.getAs[Long]("hourUs") / 1000000L)),
        r.getAs[Long]("cnt"), r.getAs[String]("side"))).toSet
    val want = Catalog.byName("q_anomaly_prequential").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getString(3))).toSet
    assert(got == want, s"stream ${got.size} hits vs batch ${want.size}")
    assert(got.nonEmpty, "no prequential anomaly fired at smoke scale")
  }

  test("composed hourly-anomaly chain (events -> watermarked windows -> " +
      "monitor) survives a mid-run restart and matches the batch row") {
    import spark.implicits._
    val srcDir = tempDir("graft_chain_src")
    val ckpt = tempDir("graft_chain_ck").toString
    val outDir = tempDir("graft_chain_out").toString
    // event-time-ordered replay, 4 one-file micro-batches + a flush
    // sentinel that closes every real hour
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .orderBy("tsUs", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val chunks = rows.grouped(rows.length / 4 + 1).toSeq
    def writeChunk(c: Seq[(String, Long)], name: String): Unit = {
      val tmp = tempDir("graft_chain_one").toString
      c.toDF("event_type", "tsUs").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, srcDir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def startChain() = graft.streaming.EventStreams.hourlyAnomalyChain(
        spark.readStream.schema("event_type string, tsUs long")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .select(col("event_type"), timestamp_micros(col("tsUs")).as("ts")))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // phase 1: first half, then STOP mid-run
    writeChunk(chunks(0), "00_a.parquet")
    writeChunk(chunks(1), "01_b.parquet")
    val q1 = startChain()
    try q1.processAllAvailable() finally q1.stop()
    val phase1Hits = spark.read.parquet(outDir).count()
    assert(phase1Hits > 0, "restart must land mid-emission to test anything")
    // phase 2: restart from the checkpoint, rest of the corpus + flush
    writeChunk(chunks(2), "02_c.parquet")
    writeChunk(chunks(3), "03_d.parquet")
    writeChunk(Seq(("~flush", rows.last._2 + 3L * 3600000000L)), "04_e.parquet")
    val q2 = startChain()
    try q2.processAllAvailable() finally q2.stop()
    val fmt2 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
    val got = spark.read.parquet(outDir).collect().map(r =>
      (r.getAs[String]("event_type"),
        fmt2.format(java.time.Instant.ofEpochSecond(
          r.getAs[Long]("hourUs") / 1000000L)),
        r.getAs[Long]("cnt"), r.getAs[String]("side"))).toSet
    val want = Catalog.byName("q_anomaly_prequential").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getLong(2), r.getString(3))).toSet
    assert(got == want,
      s"composed chain ${got.size} hits vs batch ${want.size} after restart")
    assert(got.size > phase1Hits,
      "phase 2 must add hits — moments carried across the restart")
  }

  test("chain state is watermark-bounded: rows stay at #keys and bytes " +
      "plateau instead of growing with the stream") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .orderBy("tsUs", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val nKeys = rows.map(_._1).distinct.length
    val in = MemoryStream[(String, Long)](spark)
    val q = EventStreams.hourlyAnomalyChain(
        in.toDF().select(col("_1").as("event_type"),
          timestamp_micros(col("_2")).as("ts")))
      .writeStream.format("memory").queryName("graft_state_bound")
      .outputMode("append").start()
    val series = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    try {
      rows.grouped(rows.length / 10 + 1).foreach { c =>
        in.addData(c.toIndexedSeq); q.processAllAvailable()
        val so = q.lastProgress.stateOperators
        if (so.nonEmpty)
          series += ((so.map(_.numRowsTotal).sum, so.map(_.memoryUsedBytes).sum))
      }
    } finally q.stop()
    info(s"state series (rows, bytes): ${series.toSeq}")
    assert(series.nonEmpty)
    // rows = one state entry per KEY, never per event or per hour:
    // the open-hours map lives inside the value and is horizon-bounded
    assert(series.forall(_._1 <= nKeys),
      s"state rows must stay at <= $nKeys keys: $series")
    // bytes plateau after warm-up — weeks of stream, flat state
    val warm = series.toSeq.drop(2).map(_._2)
    assert(warm.nonEmpty &&
      warm.max <= math.max(1.5 * warm.head, warm.head + (64L << 10)),
      s"state bytes must plateau, not grow with the stream: $series")
  }

  test("chains drop a late event for a never-seen hour already expired " +
      "per the watermark (streaming-aggregation late-data semantics)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val HourUs = 3600L * 1000000L
    val base = 1700000000000000L - java.lang.Math.floorMod(1700000000000000L, HourUs)
    def hour(h: Int, n: Int): Seq[(String, Long)] =
      (0 until n).map(i => ("a", base + h * HourUs + i * 1000000L))
    // batch 1: hours H0..H7 (10 events each), H8 SKIPPED (the gap),
    // H9 present — after it the watermark sits inside H9, so H0..H7
    // close (frontier maxUs = H7) while H8's window is EXPIRED yet
    // never seen: exactly the hole the round-12 advice found
    val batch1 = (0 to 7).flatMap(hour(_, 10)) ++ hour(9, 10)
    // batch 2: one late event for the expired gap hour H8 — a fused
    // windowed aggregation would drop it; admitting it would close it
    // instantly on cnt=1 and emit a spurious 'low' (variance-0 moments)
    val late = hour(8, 1)
    val flush = Seq(("~flush", base + 13 * HourUs))
    def run(withLate: Boolean): Seq[(String, Long, Long, String)] = {
      val in = MemoryStream[(String, Long)](spark)
      val sink = s"graft_late_chain_${if (withLate) "l" else "c"}"
      val q = EventStreams.hourlyAnomalyChain(
          in.toDF().select(col("_1").as("event_type"),
            timestamp_micros(col("_2")).as("ts")), warmup = 1)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        in.addData(batch1); q.processAllAvailable()
        if (withLate) { in.addData(late); q.processAllAvailable() }
        in.addData(flush); q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getString(3))).toSeq.sorted
    }
    val clean = run(withLate = false)
    val got = run(withLate = true)
    assert(!got.exists(_._2 == base + 8 * HourUs),
      s"the expired gap hour must never emit: $got")
    assert(got == clean,
      s"late expired event must not contaminate the moments: $got vs $clean")
    // same two-sided rule on the CUSUM chain (short spec baseline)
    def runCusum(withLate: Boolean): Seq[(String, Long, Long, Boolean)] = {
      val in = MemoryStream[(String, Long)](spark)
      val sink = s"graft_late_cusum_${if (withLate) "l" else "c"}"
      val q = EventStreams.hourlyCusumChain(
          in.toDF().select(col("_1").as("event_type"),
            timestamp_micros(col("_2")).as("ts")),
          baselineUs = 2 * HourUs)
        .writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      try {
        in.addData(batch1); q.processAllAvailable()
        if (withLate) { in.addData(late); q.processAllAvailable() }
        in.addData(flush); q.processAllAvailable()
      } finally q.stop()
      spark.table(sink).collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getBoolean(3))).toSeq.sorted
    }
    val cusumGot = runCusum(withLate = true)
    assert(!cusumGot.exists(_._2 == base + 8 * HourUs) &&
      cusumGot == runCusum(withLate = false),
      s"CUSUM chain must drop the expired gap hour too: $cusumGot")
  }

  test("composed CUSUM chain carries its learned baseline across a " +
      "mid-run restart and matches the batch summary") {
    import spark.implicits._
    val srcDir = tempDir("graft_cusum_src")
    val ckpt = tempDir("graft_cusum_ck").toString
    val outDir = tempDir("graft_cusum_out").toString
    val rows = graft.sources.Tables.events(spark, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .orderBy("tsUs", "event_type")
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val chunks = rows.grouped(rows.length / 4 + 1).toSeq
    def writeChunk(c: Seq[(String, Long)], name: String): Unit = {
      val tmp = tempDir("graft_cusum_one").toString
      c.toDF("event_type", "tsUs").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, srcDir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    def startChain() = graft.streaming.EventStreams.hourlyCusumChain(
        spark.readStream.schema("event_type string, tsUs long")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .select(col("event_type"), timestamp_micros(col("tsUs")).as("ts")))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append").start()
    // the restart lands with the baseline already learned (chunk 0
    // spans more than each type's first week at this fixture) — the
    // recovered (h0, n0, s0, p, minP) must continue the fold exactly
    writeChunk(chunks(0), "00_a.parquet")
    writeChunk(chunks(1), "01_b.parquet")
    val q1 = startChain()
    try q1.processAllAvailable() finally q1.stop()
    val phase1 = spark.read.parquet(outDir).count()
    assert(phase1 > 0, "restart must land after baseline + some test hours")
    writeChunk(chunks(2), "02_c.parquet")
    writeChunk(chunks(3), "03_d.parquet")
    writeChunk(Seq(("~flush", rows.last._2 + 3L * 3600000000L)), "04_e.parquet")
    val q2 = startChain()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(outDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), max("stat").as("mx"), max("drifted").as("dr"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    val want = Catalog.byName("q_cusum_drift").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3))).toSet
    assert(got == want, s"composed CUSUM after restart: $got vs batch $want")
  }

  test("streaming prequential anomaly throws on an out-of-order closed " +
      "hour instead of contaminating the moments") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val us = 3600L * 1000000L
    val in = MemoryStream[EventStreams.HourCount](spark)
    val q = EventStreams.anomalyStream(in.toDS())
      .writeStream.format("memory").queryName("anom_dis")
      .outputMode("append").start()
    try {
      in.addData(EventStreams.HourCount("view", 2 * us, 10L))
      q.processAllAvailable()
      in.addData(EventStreams.HourCount("view", 1 * us, 10L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("prequential")),
        s"wrong failure: ${messages(ex)}")
    } finally q.stop()
  }

  test("funnel hits accumulate identically across micro-batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val all = graft.sources.Tables.events(spark, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"),
        col("event_type"), col("event_id"))
      .orderBy("event_id") // arrival order, as the file stream replays it
      .as[(Long, Long, String, Long)]
      .collect().map(t => EventStreams.FEv(t._1, t._2, t._3))
    val in = MemoryStream[EventStreams.FEv](spark)
    val q = EventStreams.funnelStream(in.toDS())
      .writeStream.format("memory").queryName("funnel_chunks")
      .outputMode("append").start()
    try {
      all.grouped(math.max(all.length / 5, 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val got = spark.table("funnel_chunks")
      .groupBy("step").count().orderBy("step")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    val want = Catalog.byName("q_funnel_steps").fn(spark, dir)
      .select("step", "n_users")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      .filter(_._2 > 0)
    assert(got == want, s"chunked stream $got vs batch $want")
  }

  test("streaming last-touch attribution matches the batch q_attribution " +
      "rollup across micro-batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // clicks+purchases in global (tsUs, event_id) order: chunking a
    // globally-sorted replay preserves per-user event-time order
    // across batches (the stream's contract)
    val evs = graft.sources.Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"),
        col("event_id"), col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[EventStreams.TouchEv]
      .collect().sortBy(e => (e.tsUs, e.event_id))
    val in = MemoryStream[EventStreams.TouchEv](spark)
    val q = EventStreams.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      evs.grouped(evs.length / 4 + 1).foreach { chunk =>
        in.addData(chunk.toSeq: _*); q.processAllAvailable()
      }
    } finally q.stop()
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd").withZone(java.time.ZoneOffset.UTC)
    val got = spark.table("attrib").collect()
      .map(r => (fmt.format(java.time.Instant.ofEpochSecond(
          r.getAs[Long]("tsUs") / 1000000L)),
        r.getAs[Boolean]("attributed"), r.getAs[Long]("cents")))
      .groupBy(_._1).map { case (day, vs) =>
        (day, vs.count(_._2).toLong, vs.count(!_._2).toLong,
          vs.filter(_._2).map(_._3).sum) }.toSet
    val want = Catalog.byName("q_attribution").fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).toSet
    assert(got == want, s"stream rollup $got vs batch $want")
    assert(got.nonEmpty && got.exists(_._2 > 0),
      "fixture degenerate: no attributed purchase in the stream")
  }

  test("streaming CUSUM monitor matches the batch q_cusum_drift summary " +
      "across micro-batch splits") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val hourly = graft.sources.Tables.events(spark, dir)
      .groupBy(col("event_type"),
        unix_micros(date_trunc("hour", col("ts"))).as("hourUs"))
      .agg(count(lit(1)).as("cnt"))
      .as[EventStreams.HourCount].collect()
    val weekUs = 604800000000L
    // one stream per type (each type's deployed monitor carries its own
    // batch-trained baseline); chunked replay in event-time order
    val batch = Catalog.byName("q_cusum_drift").fn(spark, dir)
      .as[(String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    batch.keys.toSeq.sorted.foreach { et =>
      val rows = hourly.filter(_.event_type == et).sortBy(_.hourUs)
      val h0 = rows.map(_.hourUs).min
      val (bl, test) = rows.partition(_.hourUs < h0 + weekUs)
      val in = MemoryStream[EventStreams.HourCount](spark)
      val q = EventStreams
        .cusumStream(in.toDS(), bl.length.toLong, bl.map(_.cnt).sum)
        .writeStream.format("memory").queryName(s"cusum_$et")
        .outputMode("append").start()
      try {
        test.grouped(test.length / 3 + 1).foreach { chunk =>
          in.addData(chunk.toSeq: _*); q.processAllAvailable()
        }
      } finally q.stop()
      val hits = spark.table(s"cusum_$et")
        .as[EventStreams.CusumHit].collect()
      val (nTest, maxCusum, drifted) = batch(et)
      assert(hits.length == nTest, s"$et: one emit per closed hour")
      assert(hits.map(_.stat).max == maxCusum,
        s"$et: streaming max stat vs batch $maxCusum")
      assert(hits.exists(_.drifted) == drifted, s"$et: drift verdict")
    }
  }

  test("streaming CUSUM throws on an out-of-order closed hour") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val us = 3600L * 1000000L
    val in = MemoryStream[EventStreams.HourCount](spark)
    val q = EventStreams.cusumStream(in.toDS(), n0 = 10L, s0 = 1000L)
      .writeStream.format("memory").queryName("cusum_dis")
      .outputMode("append").start()
    try {
      in.addData(EventStreams.HourCount("view", 2 * us, 10L))
      q.processAllAvailable()
      in.addData(EventStreams.HourCount("view", 1 * us, 10L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("cusumStream")),
        s"wrong failure: ${messages(ex)}")
    } finally q.stop()
  }

  test("streaming attribution throws on a cross-batch late touch " +
      "instead of silently mis-crediting") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[EventStreams.TouchEv](spark)
    val q = EventStreams.attributionStream(in.toDS())
      .writeStream.format("memory").queryName("attrib_dis")
      .outputMode("append").start()
    try {
      in.addData(EventStreams.TouchEv(1L, 2000000L, 10L, "purchase", 500L))
      q.processAllAvailable()
      // the click that should have preceded the purchase arrives late
      in.addData(EventStreams.TouchEv(1L, 1000000L, 9L, "click", 0L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(ex).exists(_.contains("attributionStream")),
        s"wrong failure: ${messages(ex)}")
    } finally q.stop()
  }
}
