package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, StreamingQuery, Trigger}

import graft.flows.SyncKlines

/** Structured-Streaming shell for the reference's scheduler-driven flows
  * (SURVEY §2.9). The reference is micro-batch by scheduler (Prefect cron /
  * interval, `deploy.py:68-181`); here the same cadences map onto triggers:
  *
  *  - 30 s / 60 s loops (onchain, macro, kalshi)  → `Trigger.ProcessingTime`
  *  - hourly / daily flows (klines, symbols)      → `Trigger.AvailableNow`
  *
  * Overlap guards (`max_instances=1`) are Spark's own guarantee: one
  * micro-batch at a time per query. Restart safety is the reference's
  * self-watermarking pattern — state lives in the sink (max ts per key), so
  * the checkpoint only tracks source offsets.
  *
  * The reference NEVER drops late data (gaps are re-fetched instead,
  * `_base_.py:178-245`), so no `withWatermark` eviction is used on the
  * ingest path; dedup/idempotence comes from the keyed upsert sink.
  */
object KlineStream {

  /** Cadence table (deploy.py:49-181) → trigger. Coarse map; the full
    * deployment calendar with second offsets and a start delay that aligns
    * the first micro-batch lives in [[Schedules.deployments]]
    * (`Schedule.alignedTrigger`). */
  def triggerFor(flow: String): Trigger = flow match {
    case "onchain" | "macro"          => Trigger.ProcessingTime("30 seconds")
    case "kalshi"                     => Trigger.ProcessingTime("60 seconds")
    case "ratio_5m"                   => Trigger.ProcessingTime("5 minutes")
    case _                            => Trigger.AvailableNow()
  }

  /** A drop directory's raw response files as a stream of
    * `(symbol, body)` rows, one per `symbol TAB body` line. */
  private def dropFiles(spark: SparkSession, dropDir: String): DataFrame = {
    // limit=2: a tab inside the body must not truncate it
    val parts = split(col("value"), "\t", 2)
    spark.readStream.format("text").load(dropDir)
      .select(parts.getItem(0).as("symbol"), parts.getItem(1).as("body"))
  }

  /** Micro-batch kline ingest: watch a drop directory of raw response files
    * `(symbol TAB body)` — the landing zone a fetcher writes — normalize
    * through the exchange adapter, and MERGE each micro-batch into the keyed
    * sink. Exactly-once-ish: replays of a batch upsert the same keys. The
    * upsert evaluates the batch once, so each micro-batch reads its files
    * once. */
  def ingest(spark: SparkSession, dropDir: String, checkpointDir: String,
      sinkPath: String, exchange: String, exchangeId: Int, instType: Int,
      ivlMs: Long, trigger: Trigger): StreamingQuery = {
    val adapter = graft.sources.KlineAdapters.registry((exchange, instType))
    dropFiles(spark, dropDir).writeStream
      .queryName(s"kline-ingest-$exchange-$instType")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SyncKlines.load(batch.sparkSession, sinkPath,
          adapter(batch, exchangeId, instType, ivlMs))
      }
      .start()
  }

  /** Watermarked tumbling-window aggregation over a kline stream: per
    * (symbol, window) close stats, tolerating `lateness` of event-time
    * disorder before state eviction. NOTE the semantic difference from the
    * batch gap-engine path (which NEVER drops late data — it re-fetches,
    * `_base_.py:178-245`): this is the low-latency live view; the gap scan
    * remains the source of truth for completeness. */
  def windowedStats(spark: SparkSession, input: DataFrame, windowSpec: String,
      lateness: String): DataFrame = {
    import org.apache.spark.sql.functions._
    input
      .withColumn("event_time", timestamp_millis(col("ts")))
      .withWatermark("event_time", lateness)
      .groupBy(col("symbol"), window(col("event_time"), windowSpec))
      .agg(count(lit(1)).as("n"),
        max(col("close")).as("max_close"),
        min(col("close")).as("min_close"))
      .select(col("symbol"), col("window.start").as("w_start"),
        col("n"), col("max_close"), col("min_close"))
  }

  /** Wire [[windowedStats]] over the file drop-dir into an append-mode sink
    * (finalized windows only — emitted once the watermark passes). */
  def liveWindowQuery(spark: SparkSession, dropDir: String,
      checkpointDir: String, sinkDir: String, exchange: String,
      exchangeId: Int, instType: Int, ivlMs: Long, windowSpec: String,
      lateness: String, trigger: Trigger): StreamingQuery = {
    import org.apache.spark.sql.functions._
    val adapter = graft.sources.KlineAdapters.registry((exchange, instType))
    // adapters are pure column maps, so they lift to streaming DataFrames
    val klines = adapter(dropFiles(spark, dropDir), exchangeId, instType,
      ivlMs)
    windowedStats(spark, klines, windowSpec, lateness)
      .writeStream
      .queryName(s"kline-window-$exchange")
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .format("parquet")
      .option("path", sinkDir)
      .start()
  }

  /** Per-key fetch-cursor state (the reference's `current = max(ts)+ivl`
    * pagination cursor, `_base_.py:287`, and J8's next_funding_time skip) as
    * managed streaming state: for each key, track the max seen ts across
    * batches and emit only rows that advance it — late/duplicate rows are
    * filtered without any external store. */
  case class Cursor(maxTs: Long)
  case class Keyed(key: String, ts: Long)

  def advanceCursor(
      key: String, rows: Iterator[Keyed],
      state: GroupState[Cursor]): Iterator[Keyed] = {
    val cur = state.getOption.map(_.maxTs).getOrElse(Long.MinValue)
    val fresh = rows.filter(_.ts > cur).toSeq
    if (fresh.nonEmpty) {
      state.update(Cursor(fresh.map(_.ts).max))
      fresh.sortBy(_.ts).iterator
    } else Iterator.empty
  }
}
