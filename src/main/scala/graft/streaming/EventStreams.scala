package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference's incremental loop — checkpoint-before-work, resume from
  * index, idempotent completed-ledger (div_link_handler.py:45-111,460-567) —
  * maps onto checkpointed micro-batch execution: `checkpointLocation` carries
  * the resume state, `Trigger.AvailableNow` gives the daily-batch cadence,
  * and the partition-overwrite `foreachBatch` sink makes re-delivery a no-op.
  *
  * Windowed aggregations (tumbling / sliding / session + watermark) cover the
  * driver's `events` stream surface; their batch twins are oracle-checked in
  * graft.queries.EventQueries.
  *
  * Scale notes: watermarks bound state-store size (late data beyond the
  * watermark is dropped, so state per key is O(open windows)); session
  * windows use the built-in merging state store; the ingest sink commits by
  * partition so executor retries and query restarts never duplicate rows.
  */
object EventStreams {

  /** Tumbling-window counts/sums with a watermark (append mode safe). */
  def tumblingAgg(events: DataFrame, width: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      // group by the window struct itself — projecting .start inside the
      // groupBy breaks the analyzer's watermark↔window linkage
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Sliding-window aggregate (width/slide) with a watermark. */
  def slidingAgg(events: DataFrame, width: String, slide: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))

  /** Tumbling-window OHLC bars per event type — the market engine's bar
    * builder run ON THE STREAM. Open/close are `min_by`/`max_by` on the
    * event-time ordering key (`unix_micros(ts)`; compose the event id into
    * a packed key when timestamps can collide) — declarative aggregates,
    * so they merge across micro-batches and partial-aggregate map-side
    * exactly like min/max; the window state carries one (ord, value) pair
    * per extreme, not the events. Batch twin: s15.
    */
  def ohlcAgg(events: DataFrame, width: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(
        min_by(col("value"), unix_micros(col("ts"))).as("open_v"),
        max(col("value")).as("high_v"),
        min(col("value")).as("low_v"),
        max_by(col("value"), unix_micros(col("ts"))).as("close_v"),
        count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("open_v"), col("high_v"), col("low_v"), col("close_v"), col("n"))

  /** Session windows per user with an inactivity gap (built-in merging
    * session store; the batch gaps-and-islands twin is s03).
    */
  def sessionAgg(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("session"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session").getField("start").as("session_start"),
        col("session").getField("end").as("session_end"), col("n_events"))

  /** Stream-stream join within an event-time window: right-side rows
    * match a left row when keys are equal and right.ts ∈ [left.ts - window,
    * left.ts]. Watermarks on both sides bound the join state. Column names
    * must be disjoint between the two sides.
    *
    * `joinType` "inner" (default) or "left_outer": outer emits an unmatched
    * left row (right columns null) only once BOTH watermarks prove no
    * future match can arrive — so outer results are correct, late, and
    * state-bounded, the exact trade Structured Streaming documents (the
    * time-interval condition is what makes outer legal at all: it gives
    * the engine the state-eviction bound).
    */
  def joinWithin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String, leftTs: String, rightTs: String,
      window: String, watermark: String, joinType: String = "inner"): DataFrame =
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        col(leftKey) === col(rightKey) &&
          col(rightTs) >= col(leftTs) - expr(s"INTERVAL $window") &&
          col(rightTs) <= col(leftTs),
        joinType)

  /** Streaming exact dedup by key with a watermark bounding state: events
    * re-delivered within the watermark horizon are dropped (the streaming
    * form of exactDupGroups / the reference's completed-set skip).
    */
  def dedupStream(events: DataFrame, keyCols: Seq[String], watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Streaming per-window approx-distinct users: the q24/s18 KMV bottom-k
    * sketch run ON THE STREAM. The (window, user) pairs are first exactly
    * deduped within the watermark horizon (the KMV aggregator's
    * distinct-input contract), then the md5 hashes aggregate through the
    * sketch as a UDAF — partial buffers merge across micro-batches like
    * any declarative agg, so per-window state carries at most k hashes
    * plus a count, never the user set. A re-delivery AFTER the dedup
    * state expired would double-count; the watermark is the documented
    * bound, as in dedupStream. Dedup is user-level (the batch twin also
    * drops 32-bit hash COLLISIONS — a 2^-32-per-pair count discrepancy the
    * stream tolerates rather than keeping hash state). Batch twin: s18
    * (oracle-checked); StreamingKmvSpec asserts stream ≡ batch.
    */
  def approxDistinctUsers(events: DataFrame, width: String,
      watermark: String, k: Int): DataFrame = {
    val kmv = udaf(new graft.operators.BottomKSketch(k),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("user_id"),
        window(col("ts"), width).getField("start").as("ws"))
      .dropDuplicatesWithinWatermark("ws", "user_id")
      .groupBy(window(col("ts"), width).as("w"))
      .agg(kmv(graft.functions.TextFns.md5Hash32(
        col("user_id").cast("string"))).as("kmv"))
      .select(col("w.start").as("window_start"),
        graft.operators.Kmv.estimate(k, col("kmv._1"), col("kmv._2"))
          .as("est_users"),
        col("kmv._1").as("n_distinct_hashes"))
  }

  /** Streaming per-window VALUE histogram — p16's mergeable quantile
    * summaries run ON THE STREAM: per-(window, bin) counts over the same
    * exact cent buckets, merging across micro-batches by addition like any
    * declarative count. Bounds are CALLER-FIXED (a stream cannot derive
    * global min/max — the operator's contract, like CountMin's width);
    * out-of-range values clamp into the edge bins so no event is dropped.
    * Feed the result to `Profiler.histQuantiles`-style extraction for live
    * percentiles; StreamingHistSpec asserts stream ≡ the batch bucketing.
    */
  def valueHistogram(events: DataFrame, width: String, watermark: String,
      loCents: Long, hiCents: Long, bins: Int): DataFrame = {
    require(bins >= 2 && hiCents >= loCents, "need bins >= 2 and hi >= lo")
    events
      .withWatermark("ts", watermark)
      .select(col("ts"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .select(col("ts"), least(greatest(
        expr(s"((c - ${loCents}L) * $bins) DIV (${hiCents}L - ${loCents}L + 1)"),
        lit(0L)), lit((bins - 1).toLong)).as("bin"))
      // group on the window() expression itself — grouping on an extracted
      // start column severs the watermark linkage
      .groupBy(window(col("ts"), width).as("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("bin"), col("n"))
  }

  /** Streaming per-window volatility moments — s23's exact integer second
    * moments run ON THE STREAM: per-(window, event_type) `n`, Σcents and
    * Σcents² are plain declarative sums, so micro-batches merge by
    * addition with no custom state, and the final sqrt/divide runs on the
    * emitted exact integers. The batch twin (TimeSeries.rollingVol) slides
    * a trailing frame; the stream emits per-window sample volatility —
    * same estimator over tumbling partitions of time. A double `stddev`
    * aggregate would NOT merge deterministically across batches; the
    * integer moments do, bit-for-bit (StreamingVolSpec asserts stream ≡
    * the batch moments).
    */
  def volatilityAgg(events: DataFrame, width: String,
      watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("c"))
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sx"),
        sum(col("c") * col("c")).as("sxx"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sx"), col("sxx"),
        when(col("n") >= 2, sqrt(
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
            (col("n") * (col("n") - 1)).cast("double")) / 100.0)
          .as("vol"))

  /** Stream-static enrichment: join each micro-batch against a SMALL static
    * dimension relation. The broadcast is forced (the dim must fit in
    * memory — that is this operator's contract; drop the hint for a large
    * dim and let the threshold decide), the static side is re-planned per
    * batch so dim updates between batches are picked up, and the stream
    * side never shuffles for the join.
    */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String]): DataFrame =
    stream.join(broadcast(dim), keys, "left")

  /** ST1/ST2: checkpointed, idempotent streaming ingest — the EP2 loop as a
    * streaming query. Reads parquet files landing under `srcDir`, stamps the
    * ingestion run id, and appends to a date-partitioned parquet sink via
    * foreachBatch; the checkpoint makes restarts exactly-once per batch.
    */
  def ingestStream(spark: SparkSession, srcDir: String, schema: org.apache.spark.sql.types.StructType,
      checkpoint: String, outDir: String): StreamingQuery =
    spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .withColumn("ingest_date", to_date(col("ts")))
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // partition on batch_id + dynamic partition OVERWRITE: a batch that
        // was written but not checkpoint-committed (crash between the two)
        // re-delivers on restart and overwrites its own partition instead of
        // appending duplicates — plain append would only be at-least-once.
        batch
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("ingest_date", "batch_id")
          .parquet(outDir)
      }
      .start()
}
