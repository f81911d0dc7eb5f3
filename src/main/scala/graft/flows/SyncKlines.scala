package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gaps.GapEngine
import graft.sinks.UpsertSink

/** The flagship flow (SURVEY §3.1 `sync_klines`), restated as ONE set-
  * oriented Spark job instead of the reference's per-symbol loop:
  *
  * reference (`flows/sync_klines.py:103-121` + `_base_.py:124-298`):
  *   per symbol: MAX(dt) round-trip → LAG gap SQL → paginated REST loop →
  *   per-batch Stream Load — O(symbols) scheduler round-trips.
  *
  * here:
  *   1. active symbol dim (J1)                        — marker rows
  *   2. gap plan W1∪W2→W3 for EVERY key, from the sink's `(keys, ts)` rows
  *      — one shuffle by key, one sorted scan per key ([[GapEngine.gapPlan]])
  *   3. fetch windows (S3 pagination, `explode(sequence)`) — map-side
  *   4. fetch: injected `(key, window) → raw body` — in production a
  *      rate-limited REST task per partition (partitioned BY EXCHANGE so one
  *      task owns one exchange's request budget); in tests a fixture lookup
  *   5. adapter normalization (P1/P2/P4/P5)           — map-side
  *   6. keyed upsert merge (K1 semantics)             — one shuffle; the
  *      upsert evaluates its update once, so each window is fetched once
  *
  * Scale: stages 2-6 shuffle only on the key/band columns; nothing is
  * collected to the driver; symbol count raises parallelism, not rounds.
  */
object SyncKlines {

  val KeyCols = Seq("exchange_id", "inst_type", "symbol")

  /** Work list: which (key, request window) pairs need fetching. */
  def fetchPlan(spark: SparkSession, sinkPath: String, activeKeys: DataFrame,
      ivlMs: Long, startMs: Long, endMs: Long, limit: Int,
      mergeWithinMs: Long): DataFrame = {
    val existing: DataFrame =
      // only a missing path is a cold start; any other failure (corrupt
      // files, permissions) must surface, not silently replan a full refetch
      try spark.read.parquet(sinkPath).select(
        (KeyCols.map(col) :+ col("ts")): _*)
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if e.getMessage.contains("PATH_NOT_FOUND") ||
              e.getMessage.contains("Path does not exist") =>
          activeKeys.select(KeyCols.map(col): _*).limit(0)
            .withColumn("ts", lit(0L))
      }
    val plan = GapEngine.gapPlan(existing, activeKeys, KeyCols, "ts", ivlMs,
      startMs, endMs, mergeWithinMs)
    GapEngine.fetchWindows(plan, KeyCols, ivlMs, limit)
  }

  /** Full sync pass: plan → fetch (injected) → normalize → merge.
    * `fetch` turns each request-window row into a raw response body — the
    * seam where the REST client sits. It runs inside `mapPartitions` after a
    * repartition by exchange, so each exchange's rate budget is owned by one
    * task (SURVEY §4 parallelism row). */
  def run(spark: SparkSession, sinkPath: String, activeKeys: DataFrame,
      exchange: String, exchangeId: Int, instType: Int, ivlMs: Long,
      startMs: Long, endMs: Long, limit: Int, mergeWithinMs: Long)(
      fetch: (String, Long, Long) => String): Unit = {
    import spark.implicits._
    val windows = fetchPlan(spark, sinkPath, activeKeys, ivlMs, startMs,
      endMs, limit, mergeWithinMs)
    // Per-window failure isolation (reference `flows/sync_klines.py:97-100`:
    // try/except per symbol, the loop continues): one window's exhausted
    // retries must not fail the whole sync. A failed window emits nothing —
    // which means its range is STILL A GAP, so the next run's gap scan
    // re-plans exactly the missing windows. Failures are counted on an
    // accumulator and logged after the merge; silent loss is not an option.
    val failed = spark.sparkContext.longAccumulator("graft.fetch_failures")
    val raw = windows
      .repartition(col("exchange_id"))
      .select(col("symbol"), col("req_start"), col("req_end"))
      .as[(String, Long, Long)]
      .mapPartitions { it =>
        // one task = one exchange's sequential, rate-limited fetch loop
        it.flatMap { case (sym, s, e) =>
          try Iterator.single((sym, fetch(sym, s, e)))
          catch {
            case scala.util.control.NonFatal(ex) =>
              failed.add(1)
              org.slf4j.LoggerFactory.getLogger("graft.SyncKlines").warn(
                s"fetch failed for $sym [$s,$e]; window stays a gap: $ex")
              Iterator.empty
          }
        }
      }
      .toDF("symbol", "body")
    // fetches are paid, rate-limited work: the upsert evaluates its update
    // once, so each window is fetched once. The range is a closure value,
    // not a literal Spark would write into generated code, so every pass
    // reuses the same compiled classes (as in GapEngine.gapPlan).
    val inRange = udf((ts: Long) => ts >= startMs && ts <= endMs)
    val adapter = graft.sources.KlineAdapters.registry((exchange, instType))
    load(spark, sinkPath, adapter(raw, exchangeId, instType, ivlMs)
      .where(inRange(col("ts"))))
    if (failed.value > 0)
      org.slf4j.LoggerFactory.getLogger("graft.SyncKlines").warn(
        s"sync pass completed with ${failed.value} failed fetch " +
          "window(s); their ranges remain gaps and re-plan next run")
  }

  /** Keyed merge of normalized klines into a kline table — the one place
    * that decides the table's layout: keyed on `KeyCols :+ "ts"`, the
    * newest `ts` wins, and date-partitioned on `dt_date`, so a load
    * rewrites only the days it touched, not the table (the 100 TB layout
    * lever). */
  def load(spark: SparkSession, sinkPath: String, klines: DataFrame): Unit =
    UpsertSink.upsert(spark, sinkPath, withDay(klines), KeyCols :+ "ts", "ts",
      partitionCol = Some("dt_date"))

  /** The kline layout's partition column: `dt_date`, the UTC day of `dt`. */
  def withDay(df: DataFrame): DataFrame =
    df.withColumn("dt_date", date_format(col("dt"), "yyyy-MM-dd"))

  /** A1: per-key watermark over the sink (one job for all keys). */
  def watermarks(spark: SparkSession, sinkPath: String): DataFrame =
    spark.read.parquet(sinkPath)
      .groupBy(KeyCols.map(col): _*)
      .agg(max("ts").as("max_ts"), count(lit(1)).as("n_rows"))
}
