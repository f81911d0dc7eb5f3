package bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flows.{CheckIntegrity, SyncKlines}
import graft.sources.{KlineAdapters, RestClient, RetryPolicy}

/** `kline_sync`: the flagship incremental sync against a loopback fixture
  * exchange, one client, closed loop: each venue's sync starts when the
  * previous one has finished.
  *
  * Measured section: one cold backfill of `BackfillHours` of 1m klines for
  * every symbol of three venues into empty sinks (fetch- and
  * normalize-bound), then hourly ops for --seconds. An op takes the next
  * venue in turn, moves its fixture clock one hour, runs `SyncKlines.run`
  * (plan- and rewrite-bound: each symbol gains 60 rows) and reads that
  * venue's sink back with `SyncKlines.watermarks` and
  * `CheckIntegrity.hourlyStatus`. Every read-back is checked against the
  * fixture's closed form; an op whose read-back disagrees, or that throws,
  * is a failed op. */
final class KlineSyncLoad(ctx: Ctx) extends Workload {
  import KlineSyncLoad._

  private val fx = Fixture(ctx.seed, SymbolsPerVenue, StartMs,
    (BackfillHours + MaxOps / 3 + 2) * 60)
  private var cache: Fixture#Cache = _
  private var server: FixtureServer = _
  private var sections = 0

  private def keysOf(ex: ExchangeShape): DataFrame = {
    val spark = ctx.spark
    import spark.implicits._
    fx.symbols(ex).map(s => (ex.id.toShort, Fixture.InstType.toByte, s))
      .toDF("exchange_id", "inst_type", "symbol")
  }

  /** Sync one venue over [StartMs, last closed minute at `clockMs`]. */
  private def sync(ex: ExchangeShape, sinks: String, clockMs: Long,
      tag: String): Unit = {
    server.clockMs = clockMs
    val endMs = clockMs - M
    val sink = s"$sinks/${ex.name}"
    val keys = keysOf(ex)
    if (Trace.enabled) {
      // the plan as the flow will compute it, run on its own so its time
      // and the rows it scans are attributable
      val sc = ctx.spark.sparkContext
      sc.setJobGroup(s"plan-$tag-${ex.name}", "gap plan")
      try {
        val n = Trace.span("gaps.plan") {
          SyncKlines.fetchPlan(ctx.spark, sink, keys, M, StartMs, endMs,
            ex.limit, ex.limit * M).collect().length
        }
        Trace.add("gaps.windows_planned", n)
      } finally sc.clearJobGroup()
    }
    SyncKlines.run(ctx.spark, sink, keys, ex.name, ex.id, Fixture.InstType,
      M, StartMs, endMs, ex.limit, ex.limit * M)(
      fetchOne(server.baseUrl, ex.name, ex.limit))
  }

  /** Expected read-back of one venue at `clockMs`, per symbol: watermark,
    * row count, and the integrity scan's deficient hours. */
  private def expected(ex: ExchangeShape,
      clockMs: Long): Map[String, (Long, Long, Set[Long])] = {
    val last = lastMinute(clockMs)
    fx.symbols(ex).map { s =>
      val o = fx.outageStart(ex, s)
      val missing = if (o < 0) Seq.empty[Int]
        else (o until o + Fixture.OutageMinutes).filter(_ <= last)
      s -> ((StartMs + last * M, last + 1L - missing.length,
        missing.map(m => StartMs + (m / 60) * 3600000L).toSet))
    }.toMap
  }

  /** Read one venue's sink back; true when it matches the closed form. */
  private def readBack(ex: ExchangeShape, sinks: String,
      clockMs: Long): Boolean = {
    val sink = s"$sinks/${ex.name}"
    val wm = SyncKlines.watermarks(ctx.spark, sink)
      .select("symbol", "max_ts", "n_rows").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val deficient = CheckIntegrity.deficientHours(
      CheckIntegrity.hourlyStatus(ctx.spark.read.parquet(sink), keysOf(ex),
        SyncKlines.KeyCols, "ts", StartMs, clockMs, 60L))
      .select("symbol", "hour_ms").collect()
      .groupBy(_.getString(0)).map { case (s, rs) =>
        s -> rs.map(_.getLong(1)).toSet }
    fx.symbols(ex).map { s =>
      val (ts, n) = wm.getOrElse(s, (-1L, -1L))
      s -> ((ts, n, deficient.getOrElse(s, Set.empty[Long])))
    }.toMap == expected(ex, clockMs)
  }

  def setup(): Map[String, Any] = {
    // the fixture-body cache, rendered anew each repetition
    val reps = (1 to Main.SetupReps).map { _ =>
      val (s, c) = Main.timed(new fx.Cache)
      cache = c
      s
    }
    server = new FixtureServer(fx, cache, math.min(ctx.cores, 4))
    // warm-up: a short backfill of every venue (each adapter), then one
    // venue's hourly sync and read-back, into a throwaway sink (JIT,
    // codegen, the gap plan, the sink's merge path)
    val (warmS, _) = Main.timed {
      val sinks = ctx.work.resolve("warmup").toString
      val c0 = StartMs + WarmupHours * 3600000L
      fx.exchanges.foreach(ex => sync(ex, sinks, c0, "warmup"))
      val ex = fx.exchanges.head
      sync(ex, sinks, c0 + 3600000L, "warmup")
      require(readBack(ex, sinks, c0 + 3600000L),
        s"warm-up read-back of ${ex.name} disagrees with the fixture")
    }
    Map("setup_once_s" -> warmS, "setup_reps_s" -> reps)
  }

  def measure(traced: Boolean): Map[String, Any] = {
    sections += 1
    val sinks = ctx.work.resolve(s"sinks-$sections").toString
    val writes = new SinkWrites(sinks)
    if (traced) ctx.spark.listenerManager.register(writes)
    def drainWrites(): Map[String, Any] = {
      org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
      val ws = writes.drain()
      Map("seconds" -> ws.map(_.seconds), "rows" -> ws.map(_.rows).sum,
        "parts" -> ws.map(_.parts).sum)
    }
    val backfillClock = StartMs + BackfillHours * 3600000L
    var attempted = 0
    var failed = 0
    def op(tag: String)(body: => Boolean): Boolean = {
      attempted += 1
      val ok = try body catch {
        case NonFatal(e) =>
          System.err.println(s"kline_sync $tag failed: $e"); false
      }
      if (!ok) failed += 1
      ok
    }

    newSinceMs = Long.MinValue
    capture = if (traced) new ConcurrentLinkedQueue() else null
    val (backfillS, _) = Main.timed(fx.exchanges.foreach { ex =>
      op(s"backfill ${ex.name}") { sync(ex, sinks, backfillClock, "backfill"); true }
    })
    val backfillRows = fx.exchanges.map(ex =>
      expected(ex, backfillClock).values.map(_._2).sum).sum
    drainWrites() // the backfill's writes are not the sink metrics' subject
    val backfill = Map("seconds" -> backfillS, "rows" -> backfillRows,
      "fetch_bytes" -> Trace.counter("sources.fetch_bytes"),
      "fetch_failures" -> Trace.counter("sources.fetch_failures"),
      "windows_planned" -> Trace.counter("gaps.windows_planned"),
      "windows_useful" -> Trace.counter("gaps.windows_useful"))
    val backfillEndNs = System.nanoTime()
    val captured = capture
    capture = null

    // hourly passes for --seconds: each moves the clock one hour, then
    // syncs and reads back every venue in turn
    var clock = backfillClock
    val ops = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds && ops.length < MaxOps) {
      newSinceMs = clock - M
      clock += 3600000L
      fx.exchanges.foreach { ex =>
        val tag = s"hourly-${ops.length}"
        val (syncS, synced) = Main.timed(op(s"$tag ${ex.name}") {
          sync(ex, sinks, clock, tag); true })
        val (readS, _) = Main.timed(synced &&
          op(s"$tag ${ex.name} read-back")(readBack(ex, sinks, clock)))
        ops += Map("venue" -> ex.name, "sync_s" -> syncS, "readback_s" -> readS,
          "new_rows" -> SymbolsPerVenue * 60L, "writes" -> drainWrites())
      }
    }
    if (traced) ctx.spark.listenerManager.unregister(writes)

    val problems = fx.exchanges.flatMap(ex => closedFormProblems(ctx.spark,
      fx, ex, s"$sinks/${ex.name}", lastMinute(clock)))
    if (problems.nonEmpty) failed += 1
    val trace = if (!traced) Map.empty[String, Any] else {
      val planRead = Main.counters.map(_.readByGroup.asScala
        .collect { case (g, n) if g.startsWith("plan-hourly") => n.sum }.sum)
      Map(
        // the fetch layer is measured on the backfill, where it binds
        "backfill_fetch_s" -> Trace.spansNamed("sources.fetch")
          .filter(_.endNs <= backfillEndNs).map(s => (s.endNs - s.startNs) / 1e9),
        "normalize_s" -> normalize(captured),
        "hourly_plan_s" -> Trace.spansNamed("gaps.plan")
          .filter(_.startNs > backfillEndNs).map(s => (s.endNs - s.startNs) / 1e9),
        "windows_planned" -> Trace.counter("gaps.windows_planned"),
        "windows_useful" -> Trace.counter("gaps.windows_useful"),
        "plan_rows_read_hourly" -> planRead.getOrElse(0L),
        "files_per_partition" -> Sinks.filesPerPartition(
          fx.exchanges.map(e => java.nio.file.Paths.get(sinks, e.name))))
    }
    Map("backfill" -> backfill, "ops" -> ops.toSeq,
      "attempted" -> attempted, "failed" -> failed,
      "problems" -> problems.take(20), "trace" -> trace)
  }

  /** The adapters' share of the backfill, measured on its own: normalize
    * the captured backfill bodies with each venue's registry adapter and
    * execute the result in full. */
  private def normalize(bodies: java.util.Queue[(String, String, String)])
      : Double = {
    val spark = ctx.spark
    import spark.implicits._
    val all = bodies.asScala.toSeq
    fx.exchanges.map { ex =>
      val raw = all.filter(_._1 == ex.name).map(b => (b._2, b._3))
        .toDF("symbol", "body").cache()
      raw.count()
      val adapter = KlineAdapters.registry((ex.name, Fixture.InstType))
      val (s, _) = Main.timed(Trace.span("sources.normalize") {
        adapter(raw, ex.id, Fixture.InstType, M)
          .write.format("noop").mode("overwrite").save()
      })
      raw.unpersist()
      s
    }.sum
  }

  override def close(): Unit = if (server != null) server.stop()
}

object KlineSyncLoad {
  val SymbolsPerVenue = 20
  val BackfillHours = 24
  val MaxOps = 120
  val WarmupHours = 2
  private val M = Fixture.MinuteMs
  val StartMs = 1709251200000L // 2024-03-01T00:00:00Z

  def lastMinute(clockMs: Long): Int = ((clockMs - StartMs) / M - 1).toInt

  /** One venue's sink against the fixture's closed form after a sync up to
    * minute `last`: per symbol the row count, the distinct keys, and the
    * checksum of close prices, none of which hold if an outage minute was
    * invented, a minute lost or a key duplicated. One line per symbol that
    * disagrees. */
  def closedFormProblems(spark: SparkSession, fx: Fixture, ex: ExchangeShape,
      sink: String, last: Int): Seq[String] = {
    val got = spark.read.parquet(sink)
      .groupBy("symbol").agg(count(lit(1)).as("n"),
        countDistinct(col("ts")).as("keys"),
        sum((col("close") * 10000).cast("long")).as("ticks"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    fx.symbols(ex).flatMap { s =>
      val minutes = (0 to last).filterNot(fx.inOutage(ex, s, _))
      val want = (minutes.length.toLong, minutes.length.toLong,
        minutes.map(m => fx.closeTicks(ex, s, m)).sum)
      val have = got.getOrElse(s, (-1L, -1L, -1L))
      if (have == want) None
      else Some(s"${ex.name}/$s (rows, keys, close ticks) = $have, " +
        s"expected $want")
    } ++ (got.keySet -- fx.symbols(ex)).map(s => s"${ex.name}/$s: not a fixture symbol")
  }

  /** Fetch seam state. The seam runs inside Spark tasks, which in local
    * mode share this JVM: these statics are how it reaches the run. */
  @volatile private var newSinceMs: Long = Long.MinValue
  @volatile private var capture: java.util.Queue[(String, String, String)] = null

  private lazy val http = RestClient.withRetry(RetryPolicy(paceMs = 0L))(
    RestClient.httpTransport(RetryPolicy(paceMs = 0L)))

  /** One page request through the engine's retrying HTTP transport. */
  def fetchOne(base: String, venue: String, limit: Int)(sym: String,
      s: Long, e: Long): String = Trace.span("sources.fetch") {
    val body = try http(
      s"$base/$venue/klines?symbol=$sym&start=$s&end=$e&limit=$limit").body
    catch {
      case NonFatal(ex) => Trace.add("sources.fetch_failures", 1); throw ex
    }
    if (Trace.enabled) {
      Trace.add("sources.fetch_bytes", body.length)
      // useful: the window reaches past the previous pass's last closed
      // minute, where every minute is new to the sink, and got rows back
      if (e > newSinceMs && body.contains("[[")) Trace.add("gaps.windows_useful", 1)
      val q = capture
      if (q != null) q.add((venue, sym, body))
    }
    body
  }
}
