package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Event, EventStream}

/** Drives the Structured Streaming surface with MemoryStream: batches of
  * fixture-shaped events flow through the same transforms a readStream
  * pipeline would use; results must match the batch formulation. */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  private implicit def sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def us(day: Int, hour: Int, min: Int = 0): Long =
    (((day - 1) * 24L + hour) * 60 + min) * 60 * 1000000 + 1704067200L * 1000000 // 2024-01-01

  private val batch1 = Seq(
    Event(1, us(1, 1), 10, "click", 1.0),
    Event(2, us(1, 2), 10, "click", 2.0),
    Event(3, us(1, 3), 11, "purchase", 10.0),
    Event(4, us(2, 5), 10, "click", 3.0))
  private val batch2 = Seq(
    Event(5, us(2, 6), 11, "purchase", 20.0),
    Event(6, us(2, 7), 10, "view", 4.0))

  test("tumbling daily streaming aggregation matches the batch result") {
    val stream = MemoryStream[Event]
    val q = EventStream.tumblingDaily(stream.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("tumbling")
        .orderBy("day", "event_type").collect().toSeq
      val batch = EventStream.tumblingDaily((batch1 ++ batch2).toDF())
        .orderBy("day", "event_type").collect().toSeq
      assert(streamed == batch)
      assert(streamed.size == 5) // d1: click, purchase; d2: click, purchase, view
    } finally q.stop()
  }

  test("transformWithState (v2 arbitrary-state API) matches the v1 running counts") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = MemoryStream[Event]
      val q = EventStream.runningUserCountsV2(stream.toDS())
        .writeStream.format("memory").queryName("running_v2")
        .outputMode(OutputMode.Update()).start()
      try {
        stream.addData(batch1); q.processAllAvailable()
        val afterB1 = spark.table("running_v2").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(afterB1 == Set((10L, 3L, 6.0), (11L, 1L, 10.0)))
        stream.addData(batch2); q.processAllAvailable()
        val latest = spark.table("running_v2").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
        assert(latest == Set((10L, 4L, 10.0), (11L, 2L, 30.0)),
          "v2 state must accumulate across triggers exactly like v1")
      } finally q.stop()
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("stream-static dimension enrichment matches the batch twin and broadcasts") {
    val dim = Seq((10L, "FRANCE"), (11L, "KENYA")).toDF("user_id", "nation")
    val stream = MemoryStream[Event]
    val q = EventStream.enrichedDailyNationRevenue(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      stream.addData(batch2); q.processAllAvailable()
      val streamed = spark.table("enriched")
        .orderBy("day", "nation").collect().toSeq
      val batch = EventStream
        .enrichedDailyNationRevenue((batch1 ++ batch2).toDF(), dim)
        .orderBy("day", "nation").collect().toSeq
      assert(streamed == batch)
      // purchases: user 11 d1 (10.0), user 11 d2 (20.0) -> KENYA only
      assert(streamed.map(_.getAs[String]("nation")).toSet == Set("KENYA"))
      assert(streamed.map(_.getAs[Double]("revenue")).sum == 30.0)
      // the static side must ride a broadcast join, never shuffle the stream
      val plan = EventStream.enrichedDailyNationRevenue(
        (batch1 ++ batch2).toDF(), dim).queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        "dimension enrichment must broadcast the static side")
    } finally q.stop()
  }

  test("stateful running user counts accumulate across triggers") {
    val stream = MemoryStream[Event]
    val q = EventStream.runningUserCounts(stream.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode(OutputMode.Update()).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      val afterB1 = spark.table("running").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(afterB1 == Set((10L, 3L, 6.0), (11L, 1L, 10.0)))
      stream.addData(batch2); q.processAllAvailable()
      val latest = spark.table("running").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .groupBy(_._1).map { case (_, rows) => rows.maxBy(_._2) }.toSet
      assert(latest == Set((10L, 4L, 10.0), (11L, 2L, 30.0)))
    } finally q.stop()
  }

  test("streaming dedup drops replayed event_ids within the watermark") {
    val stream = MemoryStream[Event]
    val q = EventStream.dedupEvents(stream.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(batch1); q.processAllAvailable()
      // replay two events from batch1 alongside genuinely new ones
      stream.addData(Seq(batch1(0), batch1(2)) ++ batch2); q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[Long]("event_id")).toSeq
      assert(ids.sorted == (1L to 6L), s"duplicates not dropped: $ids")
    } finally q.stop()
  }

  test("flatMapGroupsWithState closes sessions on gap and on signup") {
    val stream = MemoryStream[Event]
    val q = EventStream.trackedSessions(stream.toDS())
      .writeStream.format("memory").queryName("tracked")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 30: two events 5 min apart, then a 40-min gap (closes #1),
      // then an event followed by signup (signup closes #2 immediately)
      stream.addData(Seq(
        Event(10, us(4, 1, 0), 30, "click", 1.0),
        Event(11, us(4, 1, 5), 30, "view", 1.0),
        Event(12, us(4, 1, 50), 30, "click", 1.0),
        Event(13, us(4, 1, 55), 30, "signup", 1.0)))
      // both closures here are data-driven (gap seen in-batch; signup),
      // so processAllAvailable quiesces — event-time timeouts only fire
      // on watermark advance, not on an idle wall clock
      q.processAllAvailable()
      val got = spark.table("tracked").orderBy("start_us").collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"))).toSeq
      assert(got == Seq((30L, 2L), (30L, 2L)))
    } finally q.stop()
  }

  test("stream-stream join matches clicks within the hour before each purchase") {
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStream.clicksBeforePurchases(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      // user 50: clicks at 02:00 and 02:50; purchase at 03:10 — only the
      // 02:50 click is within the preceding hour. user 51's click must
      // not match user 50's purchase.
      clicks.addData(Seq(
        Event(100, us(5, 2, 0), 50, "click", 1.0),
        Event(101, us(5, 2, 50), 50, "click", 1.0),
        Event(102, us(5, 2, 55), 51, "click", 1.0)))
      purchases.addData(Seq(Event(200, us(5, 3, 10), 50, "purchase", 9.0)))
      q.processAllAvailable()
      val got = spark.table("ssjoin").orderBy("click_id")
        .collect().map(r => (r.getAs[Long]("user_id"),
          r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id"),
          r.getAs[Long]("gap_us"))).toSeq
      assert(got == Seq((50L, 200L, 101L, 20L * 60 * 1000000)))
    } finally q.stop()
  }

  test("stream-stream interval join replays batch q41 on the same fixture slice") {
    import org.apache.spark.sql.functions._
    // The streaming interval join, replayed over the REAL fixture's
    // click/purchase slices, must reproduce batch q41's per-purchase
    // counts exactly (q41's zero-click purchases excepted — an inner
    // stream-stream join cannot emit them). Closes the streaming/batch
    // parity loop the session tracker already has with q20.
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), coalesce(col("value"), lit(0.0)).as("value"))
      .as[Event].collect().toSeq
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val q = EventStream.clicksBeforePurchases(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("q41parity")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(ev.filter(_.event_type == "click"))
      purchases.addData(ev.filter(_.event_type == "purchase"))
      q.processAllAvailable()
      val streamed = spark.table("q41parity")
        .groupBy("user_id", "purchase_id")
        .agg(count(lit(1)).as("n_clicks_1h"))
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
          r.getAs[Long]("n_clicks_1h"))).toSet
      val batch = SparkEntry.queries("q41_range_join_clicks_before_purchase")(spark, sf)
        .filter(col("n_clicks_1h") >= 1)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("purchase_id"),
          r.getAs[Long]("n_clicks_1h"))).toSet
      assert(batch.nonEmpty, "fixture slice must contain matched purchases")
      assert(streamed == batch,
        s"streamed ${streamed.size} vs batch ${batch.size} matched purchases")
    } finally q.stop()
  }

  test("online PIT features replay batch q140 row-for-row (feature-store parity)") {
    import org.apache.spark.sql.functions._
    // The online/offline parity audit: the stateful streaming feature
    // computer, fed the whole fixture in chronological chunks (three
    // triggers, so state genuinely carries across batches), must emit
    // exactly the feature rows batch q140 computes with its strict-past
    // window frames.
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .as[graft.streaming.Event].collect().toSeq
      .sortBy(e => (e.ts_us, e.event_id))
    val chunks = ev.grouped((ev.size + 2) / 3).toSeq
    val stream = MemoryStream[Event]
    val q = EventStream.pitFeatures(stream.toDS())
      .writeStream.format("memory").queryName("pit_parity")
      .outputMode(OutputMode.Append()).start()
    try {
      chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
      val streamed = spark.table("pit_parity").collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("prior_clicks"), r.getAs[Long]("prior_views"),
          r.getAs[Long]("prior_events"),
          Option(r.getAs[java.lang.Double]("last_val")).map(_.doubleValue))).toSet
      val batch = SparkEntry.queries("q140_pit_feature_snapshot")(spark, sf)
        .collect()
        .map(r => (r.getAs[Long]("event_id"), r.getAs[Long]("user_id"),
          r.getAs[Long]("prior_clicks"), r.getAs[Long]("prior_views"),
          r.getAs[Long]("prior_events"),
          Option(r.getAs[java.lang.Double]("last_val")).map(_.doubleValue))).toSet
      assert(batch.nonEmpty)
      assert(streamed == batch,
        s"online ${streamed.size} vs offline ${batch.size} feature rows")
    } finally q.stop()
  }

  test("streaming daily anomaly monitor (MapState + ListState) matches batch q120 per closed day") {
    import org.apache.spark.sql.functions._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val ev = graft.sources.Tables.events(spark, sf)
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      val chunks = ev.grouped((ev.size + 3) / 4).toSeq
      val stream = MemoryStream[Event]
      val q = EventStream.dailyAnomalies(stream.toDS())
        .writeStream.format("memory").queryName("anomaly_parity")
        .outputMode(OutputMode.Append()).start()
      try {
        chunks.foreach { c => stream.addData(c); q.processAllAvailable() }
        // two single-event far-future sentinels: the first advances the
        // global watermark past every real day (Spark applies a batch's
        // watermark in the NEXT batch), the second runs a batch under it
        // — each type's registered day timers then fire WITHOUT that
        // type receiving any input, which is exactly what the timer
        // design exists for; the sentinel's own far-future day never
        // closes and is never emitted
        val far = ev.map(_.ts_us).max + 10L * 86400000000L
        stream.addData(Seq(Event(9000000L, far, 0L, "click", 0.0)))
        q.processAllAvailable()
        stream.addData(Seq(Event(9000001L, far + 3600000000L, 0L, "click", 0.0)))
        q.processAllAvailable()
        val streamed = spark.table("anomaly_parity").collect()
          .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")) ->
            (r.getAs[Long]("n"),
              Option(r.getAs[java.lang.Double]("baseline_mean")).map(_.doubleValue),
              Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue),
              r.getAs[Int]("anomaly"))).toMap
        val batch = SparkEntry.queries("q120_daily_volume_anomaly")(spark, sf)
          .collect()
          .map(r => (r.getAs[String]("event_type"),
            r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay) ->
            (r.getAs[Long]("n"),
              Option(r.getAs[java.lang.Double]("baseline_mean")).map(_.doubleValue),
              Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue),
              r.getAs[Int]("anomaly"))).toMap
        assert(streamed.nonEmpty, "watermark must close at least some days")
        // every day the stream closed must carry exactly the batch verdict
        streamed.foreach { case (k, v) =>
          assert(batch.contains(k), s"streamed day $k unknown to batch")
          assert(batch(k) == v, s"verdict mismatch at $k: stream $v batch ${batch(k)}")
        }
        // coverage: the sentinel rounds close every real day
        assert(streamed.size == batch.size,
          s"closed ${streamed.size} of ${batch.size} batch days")
      } finally q.stop()
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("q194 registered replay equals batch q120 row-for-row") {
    // The replay runs on a clone of the caller's session: a concurrent
    // reader of the caller's conf sees only the caller's values for the
    // replay's five keys, the caller's streaming listeners still see the
    // replay, and the keys need no restoring afterwards.
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.noDataMicroBatches.enabled",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")
    def confNow() = keys.map(k => k -> spark.conf.getOption(k)).toMap
    val before = confNow()
    val seen = java.util.concurrent.ConcurrentHashMap
      .newKeySet[Map[String, Option[String]]]()
    val watching = new java.util.concurrent.atomic.AtomicBoolean(true)
    val watcher = new Thread(() =>
      while (watching.get) { seen.add(confNow()); Thread.sleep(1) })
    val started = new java.util.concurrent.atomic.AtomicInteger
    val progress = new java.util.concurrent.atomic.AtomicInteger
    val isReplay = (name: String) =>
      name != null && name.startsWith("graft_replay_q194_")
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit =
        if (isReplay(e.name)) started.incrementAndGet(): Unit
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (isReplay(e.progress.name)) progress.incrementAndGet(): Unit
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    watcher.start()
    // the driver-visible gate: the registered streaming query's output
    // must BE q120's output — same rows, same order, same schema
    val online =
      try SparkEntry.queries("q194_streaming_anomaly_parity")(spark, sf)
      finally { watching.set(false); watcher.join() }
    try {
      // listener delivery is asynchronous: bounded poll for the events
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while ((started.get < 1 || progress.get < 3) &&
          System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.streams.removeListener(listener)
    import scala.jdk.CollectionConverters._
    assert(!seen.isEmpty && seen.asScala.forall(_ == before),
      s"the caller's conf changed during the replay: ${seen.asScala} vs $before")
    assert(confNow() == before)
    assert(started.get == 1, s"caller's listener saw ${started.get} replay starts")
    assert(progress.get >= 3,
      s"caller's listener saw ${progress.get} replay progress events")
    val batch = SparkEntry.queries("q120_daily_volume_anomaly")(spark, sf)
    assert(online.schema.map(f => (f.name, f.dataType)) ==
      batch.schema.map(f => (f.name, f.dataType)),
      "parity query must reproduce q120's schema exactly")
    val a = online.collect().toSeq
    val b = batch.collect().toSeq
    assert(a.nonEmpty)
    assert(a == b, s"online emitted ${a.size} rows vs batch ${b.size}")
  }

  test("v2 timer-based session tracker closes the same sessions as the v1 operator") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // fixture slice: enough history for multi-session users, gaps, and
      // signup-forced closes; fed in two triggers so timers genuinely
      // carry state and fire across batches, then a far-future flush row
      // per user set so every remaining timer expires
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.events(spark, sf)
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      val far = ev.map(_.ts_us).max + 10L * 86400000000L
      val flush1 = Seq(Event(9990000L, far, -1L, "click", 0.0))
      val flush2 = Seq(Event(9990001L, far + 3600000000L, -1L, "click", 0.0))
      def drive(make: org.apache.spark.sql.Dataset[Event] =>
          org.apache.spark.sql.Dataset[graft.streaming.ClosedSession],
          name: String) = {
        val stream = MemoryStream[Event]
        val q = make(stream.toDS())
          .writeStream.format("memory").queryName(name)
          .outputMode(OutputMode.Append()).start()
        try {
          ev.grouped((ev.size + 1) / 2).foreach { c =>
            stream.addData(c); q.processAllAvailable()
          }
          stream.addData(flush1); q.processAllAvailable()
          stream.addData(flush2); q.processAllAvailable()
          spark.table(name).collect()
            .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
              r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
            .filter(_._1 >= 0).toSet // drop the flush user
        } finally q.stop()
      }
      val v1 = drive(EventStream.trackedSessions, "sess_v1")
      val v2 = drive(EventStream.trackedSessionsV2, "sess_v2")
      assert(v1.nonEmpty)
      assert(v2 == v1,
        s"v2 timers closed ${v2.size} sessions vs v1's ${v1.size}")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("transformWithState restart from checkpoint closes the same day set as an uninterrupted run") {
    // The stateful-recovery claim (SURVEY §2.1 M10) for the v2 API: the
    // anomaly monitor carries MapState/ListState + day timers across a
    // stop/restart on the same checkpoint, and the closed-day output —
    // including the carried baselines and z-scores — must be exactly
    // what an uninterrupted run emits.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import org.apache.spark.sql.functions._
      val ev = graft.sources.Tables.events(spark, sf)
        .select(col("event_id"), col("ts_us"), col("user_id"),
          col("event_type"), col("value"))
        .as[Event].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
      val far = ev.map(_.ts_us).max + 10L * 86400000000L
      val sent1 = Seq(Event(9100000L, far, 0L, "click", 0.0))
      val sent2 = Seq(Event(9100001L, far + 3600000000L, 0L, "click", 0.0))
      val chunks = ev.grouped((ev.size + 3) / 4).toSeq
      def readDays(path: String) = spark.read.parquet(path).collect()
        .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day")) ->
          (r.getAs[Long]("n"),
            Option(r.getAs[java.lang.Double]("baseline_mean")).map(_.doubleValue),
            Option(r.getAs[java.lang.Double]("z")).map(_.doubleValue),
            r.getAs[Int]("anomaly"))).toMap
      def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
      def launch(s: MemoryStream[Event], out: String, ck: String) =
        EventStream.dailyAnomalies(s.toDS())
          .writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ck)
          .outputMode(OutputMode.Append()).start()

      // Arm A: uninterrupted.
      val (outA, ckA) = (tmp("graft_anom_a"), tmp("graft_anom_a_ck"))
      val sA = MemoryStream[Event]
      val qA = launch(sA, outA, ckA)
      try (chunks :+ sent1 :+ sent2).foreach { c =>
        sA.addData(c); qA.processAllAvailable()
      } finally qA.stop()

      // Arm B: stopped cold after two chunks, restarted on the same
      // checkpoint, then fed the rest.
      val (outB, ckB) = (tmp("graft_anom_b"), tmp("graft_anom_b_ck"))
      val sB = MemoryStream[Event]
      val qB1 = launch(sB, outB, ckB)
      try chunks.take(2).foreach { c =>
        sB.addData(c); qB1.processAllAvailable()
      } finally qB1.stop()
      val qB2 = launch(sB, outB, ckB)
      try (chunks.drop(2) :+ sent1 :+ sent2).foreach { c =>
        sB.addData(c); qB2.processAllAvailable()
      } finally qB2.stop()

      val a = readDays(outA)
      val b = readDays(outB)
      assert(a.nonEmpty, "uninterrupted run must close days")
      assert(b == a,
        s"restarted run closed ${b.size} days vs uninterrupted ${a.size}")
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming throttle keeps exactly the batch rank-1 set (q173 parity)") {
    import org.apache.spark.sql.functions._
    val ev = graft.sources.Tables.events(spark, sf)
      .select(col("event_id"), col("ts_us"), col("user_id"),
        col("event_type"), col("value"))
      .as[Event].collect().toSeq.sortBy(e => (e.ts_us, e.event_id))
    val stream = MemoryStream[Event]
    val q = EventStream.throttleEvents(stream.toDF())
      .writeStream.format("memory").queryName("throttle_parity")
      .outputMode(OutputMode.Append()).start()
    val kept = try {
      ev.grouped((ev.size + 2) / 3).foreach { c =>
        stream.addData(c); q.processAllAvailable()
      }
      spark.table("throttle_parity").select("event_id").collect()
        .map(_.getLong(0)).toSet
    } finally q.stop()
    // batch reference: q173's rank-1 rows on the same fixture
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "event_type", "hr").orderBy("ts_us", "event_id")
    val batchKept = graft.sources.Tables.events(spark, sf)
      .withColumn("hr", expr("ts_us div 3600000000"))
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") === 1).select("event_id").collect()
      .map(_.getLong(0)).toSet
    assert(kept == batchKept,
      s"streaming kept ${kept.size} vs batch ${batchKept.size}")
    assert(kept.size < ev.size, "the throttle must actually drop something")
  }

  test("streaming query restarts from checkpoint without duplicating or losing output") {
    // Fault-tolerance posture (SURVEY §2.1 M10) demonstrated, not just
    // claimed: a parquet-sink stream is stopped mid-input and restarted
    // against the same checkpoint — committed offsets mean batch 1 is
    // not re-emitted, restored dedup state means a replayed event_id is
    // still dropped, and the sink ends up exactly-once for every event.
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val stream = MemoryStream[Event]
    def start() = EventStream.dedupEvents(stream.toDF())
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val q1 = start()
    try { stream.addData(batch1); q1.processAllAvailable() } finally q1.stop()
    // restart: replay one already-seen event alongside the new batch
    stream.addData(Seq(batch1.head) ++ batch2)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out)
      .select("event_id").collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (1L to 6L),
      s"restart must neither duplicate nor lose events, got $ids")
  }

  test("file-source readStream discovers files incrementally and matches batch") {
    // Everything else in this suite drives the transforms through
    // MemoryStream; this pins the PRODUCTION ingestion path — schema'd
    // readStream.parquet over a watched directory, maxFilesPerTrigger
    // forcing one micro-batch per file, new files picked up by a
    // running query — and that the result equals the batch formulation
    // over the union of the files.
    import java.nio.file.{Files => JFiles, Path, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    def tmp(tag: String): Path = {
      val p = JFiles.createTempDirectory(tag)
      // tiny (a few KB), but suites run many times per round — don't
      // accumulate dead dirs in /tmp
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def del(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(del))
          f.delete(); ()
        }
        del(p.toFile)
      }))
      p
    }
    val watched = tmp("graft_filestream_in")
    val stage = tmp("graft_filestream_stage")
    val ck = tmp("graft_filestream_ck")
    val all = batch1 ++ batch2
    def publish(events: Seq[Event], name: String): Unit = {
      // file-source contract: files must APPEAR atomically in the
      // watched dir — write to a staging dir, then move the part file in
      val dir = stage.resolve(name)
      events.toDS().coalesce(1).write.parquet(dir.toString)
      val part = JFiles.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).next()
      JFiles.move(part, watched.resolve(s"$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    publish(batch1, "f1")
    val src = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(watched.toString)
    val q = EventStream.tumblingDaily(src)
      .writeStream.format("memory").queryName("file_tumbling")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val afterF1 = spark.table("file_tumbling").count()
      publish(batch2, "f2") // discovered by the RUNNING query
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) >= 2,
        "each file should arrive in its own micro-batch")
      val got = spark.table("file_tumbling")
        .orderBy("day", "event_type").collect()
        .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
        .toSeq
      val want = EventStream.tumblingDaily(all.toDF())
        .orderBy("day", "event_type").collect()
        .map(r => (r.getDate(0).toString, r.getString(1), r.getLong(2)))
        .toSeq
      assert(got == want, s"file-source result diverged from batch: $got vs $want")
      assert(afterF1 <= got.size, "complete-mode result must only grow")
    } finally q.stop()
  }

  test("streaming session windows close 30-min-gapped sessions") {
    val stream = MemoryStream[Event]
    val q = EventStream.sessionCounts(stream.toDF())
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Complete()).start()
    try {
      // user 20: two events 10 min apart (one session), then 40 min gap (new session)
      stream.addData(Seq(
        Event(7, us(3, 1, 0), 20, "click", 1.0),
        Event(8, us(3, 1, 10), 20, "click", 1.0),
        Event(9, us(3, 1, 50), 20, "click", 1.0)))
      q.processAllAvailable()
      val got = spark.table("sessions").orderBy("start_us")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSeq
      assert(got == Seq((20L, 2L), (20L, 1L)))
    } finally q.stop()
  }
}
