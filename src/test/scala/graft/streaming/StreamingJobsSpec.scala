package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.SparkSpec

case class WebEvent(url: String, referrer: String, user_agent: String,
    host: String, ip: String, headers: String, event_time: String)

/** Drives the streaming ports with a MemoryStream: watermark
  * progression, late-data drop, tumbling and session windows
  * (FIXTURES.md streaming fixtures: 2 ips × hosts, gaps straddling the
  * 5-minute session gap, one event beyond the watermark).
  */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def runAppend(transform: DataFrame => DataFrame)(
      batches: Seq[Seq[WebEvent]]): DataFrame = {
    implicit val ctx = spark.sqlContext
    n += 1
    val name = s"stream_out_$n"
    val input = MemoryStream[WebEvent]
    val q = transform(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  private def ev(host: String, ip: String, t: String) =
    WebEvent(s"/page", "ref", "ua", host, ip, "{}",
      s"2024-01-01T$t.000Z")

  test("tumbling 5-min host agg finalizes windows past the watermark") {
    val batches = Seq(
      Seq(ev("a.com", "1.1.1.1", "00:00:10"),
        ev("a.com", "1.1.1.1", "00:01:00").copy(referrer = "ref2"),
        ev("b.com", "2.2.2.2", "00:02:00"),
        ev("a.com", "1.1.1.1", "00:06:00")),
      // advances watermark to 00:19:45 → both windows finalize
      Seq(ev("a.com", "1.1.1.1", "00:20:00")))
    val out = runAppend(StreamingJobs.tumblingHostAgg)(batches)
    val rows = out.select(
        date_format($"event_hour", "HH:mm").as("w"), $"host", $"num_hits")
      .as[(String, String, Long)].collect().toSet
    assert(rows == Set(("00:00", "a.com", 2L), ("00:00", "b.com", 1L),
      ("00:05", "a.com", 1L)))
    // F4: the same windows keyed by referrer too — a.com's first
    // window splits across its two referrers
    val byRef = runAppend(StreamingJobs.tumblingHostReferrerAgg)(batches)
      .select(date_format($"event_hour", "HH:mm").as("w"), $"host",
        $"referrer", $"num_hits")
      .as[(String, String, String, Long)].collect().toSet
    assert(byRef == Set(("00:00", "a.com", "ref", 1L),
      ("00:00", "a.com", "ref2", 1L), ("00:00", "b.com", "ref", 1L),
      ("00:05", "a.com", "ref", 1L)))
  }

  test("late data beyond the 15s watermark is dropped") {
    val out = runAppend(StreamingJobs.tumblingHostAgg)(Seq(
      Seq(ev("a.com", "1.1.1.1", "00:00:10")),
      Seq(ev("a.com", "1.1.1.1", "00:20:00")),   // watermark → 00:19:45
      Seq(ev("a.com", "1.1.1.1", "00:01:00")),   // late: < watermark
      Seq(ev("a.com", "1.1.1.1", "00:40:00")))) // flush second window
    val w0 = out.filter(date_format($"event_hour", "HH:mm") === "00:00")
      .select($"num_hits").as[Long].collect().toSeq
    assert(w0 == Seq(1L), s"late event must not reopen the window: $w0")
  }

  test("session windows: 5-min gap splits sessions, keyed by (ip, host)") {
    val out = runAppend(df => StreamingJobs.sessionize(df))(Seq(
      Seq(ev("a.com", "1.1.1.1", "00:00:00"),
        ev("a.com", "1.1.1.1", "00:02:00"),
        ev("a.com", "1.1.1.1", "00:04:00"),
        ev("a.com", "1.1.1.1", "00:12:00"),   // gap 8 min → new session
        ev("a.com", "9.9.9.9", "00:00:30")),  // other ip → own session
      Seq(ev("a.com", "1.1.1.1", "01:00:00"))))
    val sessions = out
      .select($"ip", $"n_events").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(sessions("1.1.1.1") == Seq(1L, 3L))
    assert(sessions("9.9.9.9") == Seq(1L))

    val avg = StreamingJobs.avgEventsPerSessionByHost(
      spark.table(s"stream_out_$n"))
      .select($"host", $"n_sessions", $"avg_events_per_session")
      .as[(String, Long, Double)].collect().toSeq
    assert(avg == Seq(("a.com", 3L, 5.0 / 3)))
  }

  test("dedupStream drops in-horizon duplicates, evicts expired state") {
    // key = (ip, event_time): the same event re-delivered in the same
    // and the next micro-batch is dropped; after the watermark passes
    // its horizon the state is evicted (a very-late replay would not
    // be, and must not be, caught — that's the documented contract)
    val out = runAppend(
      StreamingJobs.dedupStream(_, Seq("ip", "event_time")))(Seq(
      Seq(ev("a.com", "1.1.1.1", "00:00:10"),
        ev("a.com", "1.1.1.1", "00:00:10"),   // same-batch duplicate
        ev("b.com", "2.2.2.2", "00:00:11")),
      Seq(ev("a.com", "1.1.1.1", "00:00:10")), // next-batch duplicate
      Seq(ev("a.com", "1.1.1.1", "00:20:00"))))
    val times = out.select($"ip", $"event_time")
      .as[(String, String)].collect().toSeq
    assert(times.length == 3, s"expected 3 distinct events, got $times")
    assert(times.distinct.length == 3)
  }

  test("stream-stream interval join attributes clicks within the window") {
    implicit val ctx = spark.sqlContext
    n += 1
    val name = s"stream_out_$n"
    val imps = MemoryStream[WebEvent]
    val clicks = MemoryStream[WebEvent]
    val q = StreamingJobs.impressionClickJoin(imps.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      imps.addData(Seq(ev("a.com", "1.1.1.1", "00:00:00"),
        ev("a.com", "2.2.2.2", "00:00:00")))
      clicks.addData(Seq(
        ev("a.com", "1.1.1.1", "00:02:00"),   // in-window, same ip
        ev("a.com", "2.2.2.2", "00:30:00"),   // beyond 10-min window
        ev("a.com", "3.3.3.3", "00:01:00")))  // no matching impression
      q.processAllAvailable()
      // advance both watermarks so results finalize
      imps.addData(Seq(ev("a.com", "9.9.9.9", "01:00:00")))
      clicks.addData(Seq(ev("a.com", "9.9.9.8", "01:00:00")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name)
      .select($"ip", date_format($"click_ts", "HH:mm").as("t"))
      .as[(String, String)].collect().toSet
    assert(rows == Set(("1.1.1.1", "00:02")),
      s"only the in-window same-ip click may join, got $rows")
  }

  test("streaming chunk dedup keeps first-in-horizon fingerprints only") {
    implicit val ctx = spark.sqlContext
    def doc(prefixes: String*): String =
      prefixes.flatMap(p => (1 to 10).map(i => s"$p$i")).mkString(" ")
    val input = MemoryStream[(Long, String, String)]
    val q = StreamingJobs.chunkDedupStream(
        input.toDF().toDF("doc_id", "text", "t")
          .withColumn("ts", to_timestamp($"t", "yyyy-MM-dd HH:mm:ss"))
          .drop("t"),
        "ts", "text")
      .writeStream.format("memory").queryName("chunk_dedup_stream")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, doc("a", "b"), "2024-01-01 00:00:00")))
      q.processAllAvailable()
      // same horizon: chunk A re-arrives → dropped; C is new → kept
      input.addData(Seq((2L, doc("a", "c"), "2024-01-01 00:00:05")))
      q.processAllAvailable()
    } finally q.stop()
    val kept = spark.table("chunk_dedup_stream")
      .select($"doc_id", $"chunk_idx").as[(Long, Int)].collect().toSet
    assert(kept == Set((1L, 0), (1L, 1), (2L, 1)),
      s"doc 2's repeat of chunk A must be dropped in-horizon: $kept")
  }

  test("left-outer interval join releases unmatched impressions " +
    "once the watermark passes their window") {
    implicit val ctx = spark.sqlContext
    val imps = MemoryStream[WebEvent]
    val clicks = MemoryStream[WebEvent]
    val name = "outer_join_out"
    val q = StreamingJobs
      .impressionClickJoinOuter(imps.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      imps.addData(Seq(ev("a.com", "1.1.1.1", "00:00:00"),
        ev("a.com", "2.2.2.2", "00:00:00")))   // 2.2.2.2 never clicks
      clicks.addData(Seq(ev("a.com", "1.1.1.1", "00:02:00")))
      q.processAllAvailable()
      // two more batches: first advances both watermarks past
      // imp_ts + 10 min, the next lets the state-eviction pass emit
      // the held outer row
      Seq("01:00:00", "02:00:00").foreach { t =>
        imps.addData(Seq(ev("a.com", "9.9.9.9", t)))
        clicks.addData(Seq(ev("a.com", "9.9.9.8", t)))
        q.processAllAvailable()
      }
    } finally q.stop()
    val rows = spark.table(name)
      .select($"ip", $"click_ts".isNull).as[(String, Boolean)]
      .collect().toSeq
    assert(rows.contains(("1.1.1.1", false)),
      s"matched impression must carry its click: $rows")
    assert(rows.contains(("2.2.2.2", true)),
      s"unmatched impression must emit with NULL click columns: $rows")
    assert(!rows.contains(("1.1.1.1", true)),
      s"a matched impression must not ALSO emit an outer row: $rows")
  }

  test("incrementalDrain processes only files new since the checkpoint") {
    val base = java.nio.file.Files
      .createTempDirectory("graft_drain").toString
    val (src, ckpt, out) =
      (s"$base/src", s"$base/ckpt", s"$base/out")
    def land(evs: Seq[WebEvent]): Unit =
      evs.toDF().coalesce(1).write.mode("append").parquet(src)
    land(Seq(ev("a.com", "1.1.1.1", "00:00:10"),
      ev("b.com", "2.2.2.2", "00:01:00")))
    StreamingJobs.incrementalDrain(spark, src, ckpt, out,
      StreamingJobs.processedEvents)
    assert(spark.read.parquet(out).count() == 2)
    // second landing: only the 1 new file's rows drain — the 2
    // already-consumed rows must not reprocess (exactly-once per file)
    land(Seq(ev("c.com", "3.3.3.3", "00:02:00")))
    StreamingJobs.incrementalDrain(spark, src, ckpt, out,
      StreamingJobs.processedEvents)
    val rows = spark.read.parquet(out)
    assert(rows.count() == 3, "one new row, no reprocessing")
    assert(rows.select($"host").as[String].collect().sorted.toSeq ==
      Seq("a.com", "b.com", "c.com"))
    // a third drain with nothing new is a no-op
    StreamingJobs.incrementalDrain(spark, src, ckpt, out,
      StreamingJobs.processedEvents)
    assert(spark.read.parquet(out).count() == 3)
  }

  test("stream-static join enriches per batch, misses pass through") {
    val dim = Seq(("a.com", "news", 1), ("b.com", "shop", 2))
      .toDF("host", "category", "site_id")
    val out = runAppend(StreamingJobs.enrichWithHostDim(_, dim))(Seq(
      Seq(ev("a.com", "1.1.1.1", "00:00:10"),
        ev("b.com", "2.2.2.2", "00:01:00")),
      Seq(ev("zz.org", "3.3.3.3", "00:02:00")))) // not in the dim
    val rows = out.select($"host", $"category", $"ip")
      .as[(String, String, String)].collect().toSet
    assert(rows == Set(
      ("a.com", "news", "1.1.1.1"),
      ("b.com", "shop", "2.2.2.2"),
      ("zz.org", null, "3.3.3.3")),
      s"left stream-static join must keep unknown hosts: $rows")
  }

  test("passthrough ETL enriches with deterministic geodata") {
    val batch = Seq(
      ev("a.com", "1.2.3.4", "00:00:00"),
      ev("a.com", "1.2.3.4", "00:01:00")).toDF()
    val got = StreamingJobs.processedEvents(batch)
    assert(got.columns.toSeq == Seq("ip", "event_timestamp", "referrer",
      "host", "url", "geodata"))
    val geo = got.select($"geodata").as[String].collect().distinct
    assert(geo.length == 1 && geo.head.contains("\"country\":\"country_"))
    assert(got.filter($"event_timestamp".isNull).count() == 0)
  }

  test("foreachBatch sink is idempotent per epoch") {
    var writes = 0
    val sink = new StreamingJobs.IdempotentBatchSink(_ => writes += 1)
    val df = Seq(1).toDF("x")
    sink(df, 7L); sink(df, 7L); sink(df, 8L)
    assert(writes == 2)
  }

  test("incremental-agg sink maintains merge ≡ recompute across epochs") {
    implicit val ctx = spark.sqlContext
    var store: Option[(DataFrame, Long)] = None
    def table = store.map(_._1)
    def epoch = store.map(_._2)
    def mkSink() = new StreamingJobs.IncrementalAggSink(
      aggregate = b => b.groupBy($"host")
        .agg(count(lit(1)).as("n"), sum(length($"url")).as("chars")),
      keys = Seq("host"), sumCols = Seq("n", "chars"),
      load = () => store,
      save = (df, id) => store = Some((df.localCheckpoint(), id)))
    val sink = mkSink()
    val input = MemoryStream[WebEvent]
    val q = input.toDF().writeStream
      .foreachBatch((b: DataFrame, id: Long) => sink(b, id))
      .start()
    val batches = Seq(
      Seq(ev("a.com", "1.1.1.1", "00:00:10"),
        ev("b.com", "2.2.2.2", "00:01:00")),
      Seq(ev("a.com", "1.1.1.1", "00:02:00")),
      Seq(ev("c.com", "3.3.3.3", "00:03:00"),
        ev("a.com", "1.1.1.1", "00:04:00")))
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    val want = Set(("a.com", 3L, 15L), ("b.com", 1L, 5L),
      ("c.com", 1L, 5L))
    // /page is 5 chars; recompute over all 5 events
    assert(table.get.as[(String, Long, Long)].collect().toSet == want)
    // restart double-delivery: a FRESH sink (simulated crash) replays
    // the last committed epoch — the persisted watermark must reject
    // it without starting a Spark job, leaving the table unchanged
    val (_, replay) = graft.core.Trace(spark, "epoch-replay")(
      mkSink()(Seq(ev("a.com", "1.1.1.1", "00:04:00")).toDF(), epoch.get))
    assert(replay.jobs.isEmpty, s"a replayed epoch ran ${replay.jobs}")
    assert(table.get.as[(String, Long, Long)].collect().toSet == want)
  }
}
