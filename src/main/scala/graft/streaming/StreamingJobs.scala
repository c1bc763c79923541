package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured-Streaming ports of the reference's PyFlink jobs
  * (`4-apache-flink-training/src/job/start_job.py`,
  * `aggregation_job.py`): event-time extraction, 15 s watermark,
  * 5-minute tumbling aggregations by host (+referrer), per-event
  * enrichment, session windows (homework spec), and an idempotent
  * foreachBatch sink.
  *
  * Sources are passed in as DataFrames: production wires
  * `spark.readStream.format("kafka")` + `from_json`; tests drive a
  * MemoryStream. Every transform is source-agnostic, exactly like the
  * reference's Table-API pipeline.
  *
  * Scale: windowed state is keyed by (window, host[, referrer]) — a
  * low-cardinality state store; the watermark bounds state growth and
  * evicts finalized windows each micro-batch.
  */
object StreamingJobs {

  /** The Flink source row (`start_job.py:88-97`). */
  val webEventSchema: StructType = StructType(Seq(
    StructField("url", StringType),
    StructField("referrer", StringType),
    StructField("user_agent", StringType),
    StructField("host", StringType),
    StructField("ip", StringType),
    StructField("headers", StringType),
    StructField("event_time", StringType)))

  val EventTimeFormat = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"

  /** F1: computed event-time column
    * (`event_timestamp AS TO_TIMESTAMP(event_time, …)`).
    */
  def withEventTime(df: DataFrame): DataFrame =
    df.withColumn("event_timestamp",
      to_timestamp(col("event_time"), EventTimeFormat))

  /** F5 stand-in for the HTTP geo-lookup UDF (`start_job.py:58-79`):
    * a deterministic pure function of the ip (the real one is
    * I/O-bound; in a cluster it would run in mapPartitions with a
    * shared connection). Emits the same {country,state,city} JSON
    * shape.
    */
  def geoStub(ip: Column): Column =
    to_json(struct(
      concat(lit("country_"), pmod(crc32(ip), lit(10))).as("country"),
      concat(lit("state_"), pmod(crc32(ip), lit(50))).as("state"),
      concat(lit("city_"), pmod(crc32(ip), lit(1000))).as("city")))

  /** F6: passthrough ETL Kafka→sink with enrichment
    * (`INSERT INTO processed_events SELECT ip, event_timestamp,
    * referrer, host, url, get_location(ip)`).
    */
  def processedEvents(df: DataFrame): DataFrame =
    withEventTime(df).select(
      col("ip"), col("event_timestamp"), col("referrer"), col("host"),
      col("url"), geoStub(col("ip")).as("geodata"))

  /** F2+F3: 15 s watermark, 5-minute tumbling count by host
    * (`aggregation_job.py:96-108`). Emits (event_hour, host, num_hits)
    * — the reference's sink schema.
    */
  def tumblingHostAgg(df: DataFrame): DataFrame =
    withEventTime(df)
      .withWatermark("event_timestamp", "15 seconds")
      .groupBy(window(col("event_timestamp"), "5 minutes"), col("host"))
      .agg(count(lit(1)).as("num_hits"))
      .select(col("window.start").as("event_hour"), col("host"),
        col("num_hits"))

  /** F4: same with the referrer key (`aggregation_job.py:110-124`). */
  def tumblingHostReferrerAgg(df: DataFrame): DataFrame =
    withEventTime(df)
      .withWatermark("event_timestamp", "15 seconds")
      .groupBy(window(col("event_timestamp"), "5 minutes"), col("host"),
        col("referrer"))
      .agg(count(lit(1)).as("num_hits"))
      .select(col("window.start").as("event_hour"), col("host"),
        col("referrer"), col("num_hits"))

  /** F8 homework: 5-minute-gap session windows keyed by (ip, host). */
  def sessionize(df: DataFrame, gap: String = "5 minutes"): DataFrame =
    withEventTime(df)
      .withWatermark("event_timestamp", "15 seconds")
      .groupBy(session_window(col("event_timestamp"), gap), col("ip"),
        col("host"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("ip"), col("host"), col("n_events"))

  /** F8 second half: average events per session per host (batch agg
    * over the finalized sessions).
    */
  def avgEventsPerSessionByHost(sessions: DataFrame): DataFrame =
    sessions.groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_sessions"),
        (sum(col("n_events")).cast("double") / count(lit(1)))
          .as("avg_events_per_session"))

  /** Incremental batch drain (Trigger.AvailableNow): process exactly
    * the files that arrived since the last run, then stop — the
    * modern replacement for hand-rolled "WHERE date_partition = {ds}"
    * daily incrementals (reference `monthly_user_site_hits_job.py`):
    * the checkpoint tracks consumed files, so re-runs are exactly-once
    * per file with NO bookkeeping table, and a backlog drains with
    * full watermark/state semantics rather than one giant batch.
    * Returns after the drain completes.
    *
    * @param transform the same source-agnostic transforms the live
    *                  streams use (they don't know their trigger)
    */
  def incrementalDrain(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, checkpointDir: String, outDir: String,
      transform: DataFrame => DataFrame): Unit = {
    val q = transform(
        spark.readStream.schema(webEventSchema).parquet(sourceDir))
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .outputMode("append")
      .start()
    q.awaitTermination()
  }

  /** Backpressure-bounded drain: like [[incrementalDrain]] but with
    * `maxFilesPerTrigger` capping every micro-batch — the ingest
    * backpressure contract. A backlog (an outage, a bulk backfill)
    * drains as MANY bounded batches instead of one giant one, so
    * per-batch shuffle/state stays sized for steady state no matter
    * how deep the queue got; watermarks and state eviction advance
    * between batches instead of ballooning across one. The same knob
    * family covers the other sources (`maxOffsetsPerTrigger` for
    * Kafka/rate, `maxBytesPerTrigger` for files by size);
    * Trigger.AvailableNow honors them all — its documented advantage
    * over the deprecated Trigger.Once, which forced a single batch.
    * Batches are handed to `onBatch` with their epoch id (the
    * foreachBatch route, so any sink — including non-streaming ones —
    * gets the bounded batches).
    */
  def throttledFileDrain(spark: org.apache.spark.sql.SparkSession,
      sourceDir: String, checkpointDir: String, maxFilesPerTrigger: Int,
      onBatch: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream
      .schema(webEventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(sourceDir)
      .writeStream
      .foreachBatch(onBatch)
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Stream-static enrichment join: each event looks up its host in a
    * STATIC dimension table. Spark re-plans the static side every
    * micro-batch, so this runs as a broadcast hash join inside each
    * epoch with ZERO streaming state — the cluster-scale form of
    * per-record lookup enrichment (the reference enriches with an
    * HTTP UDF per row, `4-apache-flink-training/src/job/start_job.py:
    * 58-79`; a broadcast dim table is the same lookup without a
    * network call per record). Left join: events with unknown hosts
    * pass through with NULL metadata — an enrichment miss must never
    * drop a revenue event.
    */
  def enrichWithHostDim(stream: DataFrame, hostDim: DataFrame)
      : DataFrame =
    withEventTime(stream)
      .join(broadcast(hostDim), Seq("host"), "left")

  /** Streaming exact dedup (the training-pipeline front door): drop
    * re-delivered events by key, with the watermark bounding the
    * dedup state — keys older than the watermark are evicted, so
    * state is O(keys within the late-data horizon), not O(all keys
    * ever). `dropDuplicatesWithinWatermark` (Spark ≥3.5) admits a
    * duplicate only while its first occurrence is still inside the
    * horizon — exactly the at-least-once → effectively-once repair a
    * Kafka source needs, at any scale the watermark allows.
    */
  def dedupStream(df: DataFrame, keys: Seq[String],
      horizon: String = "15 seconds"): DataFrame =
    withEventTime(df)
      .withWatermark("event_timestamp", horizon)
      .dropDuplicatesWithinWatermark(keys)

  /** Stream-stream interval join (attribution): each click joined to
    * the impressions that preceded it within `window` on the same ip.
    * Both sides carry watermarks and the join condition bounds the
    * event-time distance, so Spark can size and EVICT the join state
    * — the shape that keeps a two-stream join runnable forever at
    * production rates (an unbounded-condition stream join would
    * accumulate state without limit).
    */
  def impressionClickJoin(impressions: DataFrame, clicks: DataFrame,
      window: String = "10 minutes"): DataFrame = {
    val i = withEventTime(impressions)
      .select(col("ip"), col("url").as("imp_url"),
        col("event_timestamp").as("imp_ts"))
      .withWatermark("imp_ts", "15 seconds")
    val c = withEventTime(clicks)
      .select(col("ip").as("click_ip"), col("url").as("click_url"),
        col("event_timestamp").as("click_ts"))
      .withWatermark("click_ts", "15 seconds")
    i.join(c,
      col("ip") === col("click_ip") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"INTERVAL $window"))
      .select(col("ip"), col("imp_url"), col("imp_ts"),
        col("click_url"), col("click_ts"))
  }

  /** Streaming chunk ("line")-level dedup — the streaming twin of
    * [[graft.operators.Dedup.chunkDedup]], for corpora that ARRIVE as
    * a stream: explode each document into chunk fingerprints
    * ([[graft.operators.Dedup.chunkOccurrences]] — stateless, text
    * never becomes state) and keep the first occurrence of each
    * fingerprint with `dropDuplicatesWithinWatermark`. State holds
    * one entry per DISTINCT chunk fingerprint seen within the
    * late-data horizon — evicted past the watermark, so state is
    * O(distinct chunks per horizon), not O(corpus). The trade against
    * the batch operator: a duplicate arriving after its first
    * occurrence left the horizon is admitted again (bounded-state
    * dedup is horizon-exact, corpus-approximate) — run the batch
    * dedup downstream for the exact global pass.
    */
  def chunkDedupStream(docs: DataFrame, tsCol: String, textCol: String,
      horizon: String = "15 seconds", chunkTokens: Int = 10): DataFrame =
    graft.operators.Dedup.chunkOccurrences(docs, textCol, chunkTokens)
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(Seq("chunk_fp"))

  /** Left-outer variant of [[impressionClickJoin]]: every impression
    * emits exactly once — joined to its in-window clicks when they
    * arrive, or with NULL click columns once the watermark proves no
    * click can still match (imp_ts + window is past BOTH watermarks).
    * This is the full attribution ledger (conversion rate needs the
    * non-converting impressions too), and the outer emission is
    * watermark-DRIVEN: an unmatched row is held in join state until
    * the watermark passes its window, then released — so outer
    * results trail the stream by the window plus the late-data bound,
    * by design, and state stays evictable exactly as in the inner
    * form.
    */
  def impressionClickJoinOuter(impressions: DataFrame, clicks: DataFrame,
      window: String = "10 minutes"): DataFrame = {
    val i = withEventTime(impressions)
      .select(col("ip"), col("url").as("imp_url"),
        col("event_timestamp").as("imp_ts"))
      .withWatermark("imp_ts", "15 seconds")
    val c = withEventTime(clicks)
      .select(col("ip").as("click_ip"), col("url").as("click_url"),
        col("event_timestamp").as("click_ts"))
      .withWatermark("click_ts", "15 seconds")
    i.join(c,
      col("ip") === col("click_ip") &&
        col("click_ts") >= col("imp_ts") &&
        col("click_ts") <= col("imp_ts") + expr(s"INTERVAL $window"),
      "left_outer")
      .select(col("ip"), col("imp_url"), col("imp_ts"),
        col("click_url"), col("click_ts"))
  }

  /** S11: the JDBC-style sink — `foreachBatch` with per-epoch
    * idempotence (re-delivered micro-batches are dropped), faking the
    * exactly-once the reference gets from Flink checkpoints.
    */
  class IdempotentBatchSink(write: DataFrame => Unit) {
    // epoch ids are monotonic, so one high-watermark long replaces an
    // ever-growing Set (which would leak one boxed Long per micro-batch
    // for the process lifetime); a re-delivered batch always carries an
    // already-seen (≤ watermark) epoch — `IncrementalAggSink`'s rule
    // with a process-local watermark instead of a store
    private var maxSeen = Long.MinValue
    def apply(batch: DataFrame, epochId: Long): Unit = synchronized {
      if (epochId > maxSeen) {
        maxSeen = epochId
        write(batch)
      }
    }
  }

  /** Transactional per-epoch directory sink: write the micro-batch to
    * a `_staging-<epoch>` directory, then ATOMICALLY rename it to
    * `epoch=<epoch>`. A crash anywhere before the rename — mid-write,
    * mid-flush, between write and commit — leaves only the staging
    * directory, which readers never see (Spark's file index hides
    * `_`-prefixed paths); the replayed epoch finds no committed
    * directory, overwrites the half-written staging leftovers, and
    * commits. Exactly-once across restarts AND mid-batch failures
    * with no in-memory bookkeeping — the durable upgrade over
    * [[IdempotentBatchSink]], whose watermark is process-local.
    * This is the same commit protocol Spark's own file sink uses
    * (manifest-then-visible), expressed at directory granularity so
    * each epoch is one atomic unit.
    *
    * @param beforeCommit test seam between staging write and rename —
    *        a fault injector throws here to simulate the mid-batch
    *        crash window
    */
  class TransactionalDirSink(root: String,
      beforeCommit: Long => Unit = _ => ()) {
    def apply(batch: DataFrame, epochId: Long): Unit = {
      val conf = batch.sparkSession.sparkContext.hadoopConfiguration
      val committed = new org.apache.hadoop.fs.Path(root, s"epoch=$epochId")
      val fs = committed.getFileSystem(conf)
      if (!fs.exists(committed)) {
        val staging =
          new org.apache.hadoop.fs.Path(root, s"_staging-$epochId")
        batch.write.mode("overwrite").parquet(staging.toString)
        beforeCommit(epochId)
        require(fs.rename(staging, committed),
          s"epoch $epochId: staging->committed rename failed")
      }
    }
  }

  /** Streaming incremental-view maintenance: a `foreachBatch` sink
    * that aggregates ONLY each micro-batch and merges the partials
    * into a running aggregate table
    * ([[graft.operators.IncrementalAgg.mergePartials]] — the same
    * merge ≡ recompute law q103 proves in batch). This is the
    * append-stream alternative to an output-mode=update stateful agg:
    * each epoch costs one delta aggregation + one key-wise merge
    * regardless of history size.
    *
    * Exactly-once: Structured Streaming re-delivers an epoch after a
    * crash (and may re-run the last one on restart), and a merge is
    * not idempotent the way a batch overwrite is — a replayed epoch
    * would merge its delta twice. So the store keeps the table
    * TOGETHER with the epoch id it was committed at:
    *  - `load()` returns `(table, committedEpoch)`, or None before the
    *    first commit;
    *  - `save(table, epochId)` must persist the two atomically (write
    *    table + id to a staging location and rename, or one table
    *    transaction) and must materialize the table before returning —
    *    frames derived from the batch are only valid inside its epoch.
    *
    * [[apply]] skips every epoch at or below the stored one without
    * starting a Spark job; otherwise it merges the batch into the
    * prior table and saves the result with the epoch. There is no
    * in-memory watermark: a restarted sink reads the epoch from the
    * same store as the table, so it cannot merge a replay.
    */
  class IncrementalAggSink(
      aggregate: DataFrame => DataFrame,
      keys: Seq[String], sumCols: Seq[String],
      maxCols: Seq[String] = Nil, minCols: Seq[String] = Nil,
      load: () => Option[(DataFrame, Long)],
      save: (DataFrame, Long) => Unit) {
    private def step(batch: DataFrame, prior: Option[DataFrame])
        : DataFrame = {
      val delta = aggregate(batch)
      prior match {
        case Some(base) => graft.operators.IncrementalAgg
          .mergePartials(base, delta, keys, sumCols, maxCols, minCols)
        case None => delta
      }
    }

    def apply(batch: DataFrame, epochId: Long): Unit = synchronized {
      val stored = load()
      if (stored.forall(_._2 < epochId))
        save(step(batch, stored.map(_._1)), epochId)
    }
  }
}
