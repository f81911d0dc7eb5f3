package graft.flows

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.gaps.GapEngine

/** SURVEY §7.3 — the minimum end-to-end slice: backfill and verify a
  * symbol's 1m klines. Fixture responses → normalize → sink with holes →
  * gap scan reports exactly the holes → fetch plan → ingest → re-scan ∅ →
  * watermark/count checks. Exercises S2/S3, P1/P2/P5, W1-W3, A1-A3, K1. */
class SyncKlinesFlowSpec extends SparkSpec {
  import spark.implicits._
  import SyncKlinesFlowSpec._

  test("backfill closes all gaps and is idempotent end to end") {
    val sink = Files.createTempDirectory("klines").toString + "/kline_1m"
    val keys = Seq((1.toShort, 1.toByte, "BTCUSDT"))
      .toDF("exchange_id", "inst_type", "symbol")

    // 1. seed the sink with two holes: [t10,t19] and [t40,t44] missing
    val present = (0 to 59).filterNot(i => (10 to 19 contains i) ||
      (40 to 44 contains i)).map(i => Start + i * M)
    val seedBody = present.map { ts =>
      s"""[$ts,"100.1","101.2","99.3","100.5","7.5",${ts + M - 1},"750.0",42,"1","1","0"]"""
    }.mkString("[", ",", "]")
    val seed = graft.sources.KlineAdapters.binance(
      Seq(("BTCUSDT", seedBody)).toDF("symbol", "body"), 1, 1, M)
      .withColumn("dt_date", date_format($"dt", "yyyy-MM-dd"))
    graft.sinks.UpsertSink.upsert(spark, sink, seed,
      SyncKlines.KeyCols :+ "ts", "ts", Some("dt_date"))

    // 2. gap scan must report exactly the two holes (no boundary gaps)
    val existing = spark.read.parquet(sink)
      .select($"exchange_id", $"inst_type", $"symbol", $"ts")
    val gaps = GapEngine.gapPlan(existing, keys, SyncKlines.KeyCols, "ts",
      M, Start, End, mergeWithinMs = M)
      .select($"gap_start", $"gap_end").as[(Long, Long)].collect().sortBy(_._1)
    assert(gaps.toList == List(
      (Start + 10 * M, Start + 19 * M), (Start + 40 * M, Start + 44 * M)))

    // 3. run the sync flow with the fixture endpoint: every planned window
    // is fetched, and fetched once
    val planned = SyncKlines.fetchPlan(spark, sink, keys, M, Start, End,
      limit = 5, mergeWithinMs = M)
      .select($"symbol", $"req_start", $"req_end")
      .as[(String, Long, Long)].collect().map { case (y, s, e) => s"$y/$s/$e" }
    fetchHits.clear()
    SyncKlines.run(spark, sink, keys, "binance", 1, 1, M, Start, End,
      limit = 5, mergeWithinMs = M)(countingServe)
    assert(planned.length == 3 &&
      fetchHits.asScala.map { case (w, n) => w -> n.get }.toMap ==
        planned.map(_ -> 1).toMap)

    // 4. re-scan → no gaps; full grid present
    val after = GapEngine.gapPlan(
      spark.read.parquet(sink).select($"exchange_id", $"inst_type", $"symbol", $"ts"),
      keys, SyncKlines.KeyCols, "ts", M, Start, End, M).count()
    assert(after == 0)
    assert(spark.read.parquet(sink).count() == 60)

    // 5. A1 watermark + A3 latest row
    val wm = SyncKlines.watermarks(spark, sink)
      .select($"max_ts", $"n_rows").as[(Long, Long)].head()
    assert(wm == ((End, 60L)))

    // 6. idempotence: running the flow again changes nothing
    SyncKlines.run(spark, sink, keys, "binance", 1, 1, M, Start, End, 5, M)(serve)
    assert(spark.read.parquet(sink).count() == 60)
  }

  test("the generated code of the gap plan and of a sync pass does not depend on their bounds") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val sink = Files.createTempDirectory("klines").toString + "/codegen"
    val keys = Seq((1.toShort, 1.toByte, "BTCUSDT"), (1.toShort, 1.toByte, "ETHUSDT"))
      .toDF("exchange_id", "inst_type", "symbol")
    SyncKlines.run(spark, sink, keys.limit(1), "binance", 1, 1, M, Start,
      Start + 29 * M, limit = 5, mergeWithinMs = M)(serve)
    def plan(endMs: Long): Int = SyncKlines.fetchPlan(spark, sink, keys, M,
      Start, endMs, limit = 5, mergeWithinMs = M).collect().length
    assert(plan(End) == 6 + 12) // BTC's tail + ETH's whole hour
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val beforePlan = compiles
    assert(plan(End + 60 * M) == 18 + 24)
    assert(compiles == beforePlan)
    // a whole sync pass, one hour on, runs the same classes too
    def sync(endMs: Long): Unit = SyncKlines.run(spark, sink, keys, "binance",
      1, 1, M, Start, endMs, limit = 5, mergeWithinMs = M)(serve)
    sync(End)
    val beforePass = compiles
    sync(End + 60 * M)
    assert(compiles == beforePass)
    assert(spark.read.parquet(sink).count() == 2 * 120)
  }

  test("retrying fetch seam: every window 500s once, sync still converges") {
    val sink = Files.createTempDirectory("klines").toString + "/flaky"
    val keys = Seq((1.toShort, 1.toByte, "BTCUSDT"))
      .toDF("exchange_id", "inst_type", "symbol")
    flakyHits.clear()
    SyncKlines.run(spark, sink, keys, "binance", 1, 1, M, Start,
      Start + 9 * M, limit = 4, mergeWithinMs = M)(flakyFetch)
    assert(spark.read.parquet(sink).count() == 10)
    // 3 windows ([0,3],[4,7],[8,9]), each = one failed + one ok attempt
    assert(flakyHits.size == 3 && flakyHits.values().stream()
      .allMatch(n => n.get == 2))
  }

  test("failure isolation: a dead window drops out, stays a gap, heals next run") {
    val sink = Files.createTempDirectory("klines").toString + "/isolate"
    val keys = Seq((1.toShort, 1.toByte, "BTCUSDT"))
      .toDF("exchange_id", "inst_type", "symbol")
    // run 1: the middle window ([4,7]) always 500s through every retry
    SyncKlines.run(spark, sink, keys, "binance", 1, 1, M, Start,
      Start + 9 * M, limit = 4, mergeWithinMs = 0L)(deadWindowFetch)
    assert(spark.read.parquet(sink).count() == 6) // [0,3] + [8,9] landed
    val gaps = GapEngine.gapPlan(
      spark.read.parquet(sink).select($"exchange_id", $"inst_type", $"symbol", $"ts"),
      keys, SyncKlines.KeyCols, "ts", M, Start, Start + 9 * M, 0L)
      .select($"gap_start", $"gap_end").as[(Long, Long)].collect()
    assert(gaps.toSeq == Seq((Start + 4 * M, Start + 7 * M)))
    // run 2: endpoint healed — the re-planned gap window closes
    SyncKlines.run(spark, sink, keys, "binance", 1, 1, M, Start,
      Start + 9 * M, limit = 4, mergeWithinMs = 0L)(serve)
    assert(spark.read.parquet(sink).count() == 10)
  }

  test("cold start (no sink) plans the whole range") {
    val sink = Files.createTempDirectory("klines").toString + "/cold"
    val keys = Seq((1.toShort, 1.toByte, "ETHUSDT"))
      .toDF("exchange_id", "inst_type", "symbol")
    val plan = SyncKlines.fetchPlan(spark, sink, keys, M, Start, Start + 9 * M,
      limit = 4, mergeWithinMs = M)
      .select($"req_start", $"req_end").as[(Long, Long)].collect().sortBy(_._1)
    // whole range [0..9] paginated by 4: [0,3],[4,7],[8,9]
    assert(plan.toList == List(
      (Start, Start + 3 * M), (Start + 4 * M, Start + 7 * M),
      (Start + 8 * M, Start + 9 * M)))
  }
}

/** Fixtures live outside the suite so the fetch closure shipped to executors
  * doesn't capture the (non-serializable) ScalaTest engine. */
object SyncKlinesFlowSpec {
  val M = 60000L
  val Start = 1704067200000L            // 2024-01-01 00:00
  val End: Long = Start + 59 * M        // one hour of 1m klines

  /** fixture "REST endpoint": serves binance-shaped bodies for any window. */
  def serve(sym: String, s: Long, e: Long): String =
    (s to e by M).map { ts =>
      s"""[$ts,"100.1","101.2","99.3","100.5","7.5",${ts + M - 1},"750.0",42,"1","1","0"]"""
    }.mkString("[", ",", "]")

  /** Per-window fetch counts of [[countingServe]]. */
  val fetchHits = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  /** [[serve]], counting each `symbol/start/end` window it is asked for. */
  def countingServe(sym: String, s: Long, e: Long): String = {
    fetchHits.computeIfAbsent(s"$sym/$s/$e",
      _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
    serve(sym, s, e)
  }

  /** Endpoint whose [4,7]-window is permanently down: the retry wrapper
    * exhausts (3 attempts) and raises — SyncKlines must isolate it. */
  def deadWindowFetch(sym: String, s: Long, e: Long): String = {
    val disciplined = graft.sources.RestClient.withRetry(
      graft.sources.RetryPolicy(retryDelayMs = 1)) { url =>
      if (url.contains(s"/${Start + 4 * M}/"))
        graft.sources.RestResponse(500, "window is down")
      else {
        val Array(sy, ss, ee) = url.stripPrefix("fixture://klines/").split("/")
        graft.sources.RestResponse(200, serve(sy, ss.toLong, ee.toLong))
      }
    }
    disciplined(s"fixture://klines/$sym/$s/$e").body
  }

  /** Per-url attempt counts, JVM-global so local-mode tasks share it. */
  val flakyHits = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicInteger]()

  /** The production seam shape: (symbol, window) → url → disciplined GET.
    * The transport 500s the first attempt on every url; the retry wrapper
    * absorbs it. `retryDelayMs=1` keeps the spec fast without changing the
    * schedule's shape. */
  def flakyFetch(sym: String, s: Long, e: Long): String = {
    val disciplined = graft.sources.RestClient.pacedRetrying(
      graft.sources.RetryPolicy(retryDelayMs = 1, paceMs = 1)) { url =>
      val n = flakyHits.computeIfAbsent(url,
        _ => new java.util.concurrent.atomic.AtomicInteger).incrementAndGet()
      if (n == 1) graft.sources.RestResponse(500, "transient upstream")
      else {
        val Array(sy, ss, ee) = url.stripPrefix("fixture://klines/").split("/")
        graft.sources.RestResponse(200, serve(sy, ss.toLong, ee.toLong))
      }
    }
    disciplined(s"fixture://klines/$sym/$s/$e").body
  }
}
