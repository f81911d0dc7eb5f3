package bench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sinks.UpsertSink
import graft.streaming.KlineStream

/** `kline_stream`: the small-write path, open loop at a fixed rate.
  *
  * The sink starts with yesterday's day partition full and today's half
  * full. The generator drops one `(symbol TAB body)` file every
  * `TickMs`, each with the next minute's kline for every symbol plus a
  * seeded ~2% of revisions of earlier minutes (a quarter of them in
  * yesterday's partition); `KlineStream.ingest` upserts each micro-batch.
  * The schedule does not wait for the stream: each file is timed from when
  * it was due, so a stall shows as lag on every file behind it. All file
  * contents are rendered, and the stream has ingested `WarmupTicks` files,
  * before timing starts.
  *
  * Revisions target only minutes that were in the sink before the stream
  * started, and no schedule revises a minute twice: the sink's contract is
  * that a later batch replaces a stored row, while within one batch rows of
  * equal `ts` rank arbitrarily. The verification checks that the latest
  * revision wins. */
final class KlineStreamLoad(ctx: Ctx) extends Workload {
  import KlineStreamLoad._

  private val nTicks = math.ceil(ctx.seconds * 1000 / TickMs).toInt
  private val golden = ctx.work.resolve("golden")
  private var schedule: IndexedSeq[Tick] = IndexedSeq.empty
  private var warm: Option[Stream] = None
  private var sections = 0

  /** A stream over a fresh copy of the seeded sink that has already
    * ingested `WarmupTicks` files, so timed files never meet a new query's
    * first batch (which also lists, plans and initialises its checkpoint). */
  private def warmStream(name: String): Stream = {
    val s = startStream(ctx, golden, name)
    ticks(ctx.seed + 1, WarmupTicks, SeedMinutes).zipWithIndex
      .foreach { case (t, k) => drop(s, f"warm-$k%05d.txt", t) }
    s.query.processAllAvailable()
    s
  }

  def setup(): Map[String, Any] = {
    // the schedule's file contents, rendered anew each repetition
    val reps = (1 to Main.SetupReps).map { _ =>
      val (s, t) = Main.timed(ticks(ctx.seed, nTicks, SeedMinutes + WarmupTicks))
      schedule = t
      s
    }
    // the seeded sink, then the warm stream the first section measures
    // (JIT, codegen, the sink's merge path)
    val (onceS, _) = Main.timed {
      seedSink(ctx, golden.toString)
      warm = Some(warmStream("warmup"))
    }
    Map("setup_once_s" -> onceS, "setup_reps_s" -> reps)
  }

  def measure(traced: Boolean): Map[String, Any] = {
    sections += 1
    val writes = new SinkWrites(ctx.work.resolve(s"section-$sections").toString)
    val s = warm match {
      case Some(w) if !traced => w
      case _ =>
        // registered before the stream starts: the stream runs on a clone
        // of the session, which copies the listeners present at start
        if (traced) ctx.spark.listenerManager.register(writes)
        warm.foreach(_.query.stop())
        warmStream(s"section-$sections")
    }
    warm = None
    val files = ArrayBuffer.empty[(Long, Long)]
    val rows = schedule.map(_.keys.length.toLong).sum
    val t0 = System.currentTimeMillis() + 100L
    schedule.zipWithIndex.foreach { case (t, k) =>
      val due = t0 + k * TickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      drop(s, f"tick-$k%05d.txt", t)
      files += ((due, System.currentTimeMillis()))
    }
    // every file is in the drop directory now: wait until all are committed
    s.query.processAllAvailable()
    s.query.stop()
    if (traced) ctx.spark.listenerManager.unregister(writes)
    val batches = s.query.recentProgress.filter(_.numInputRows > 0).flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      if (start < t0) None else Some(Map("start_ms" -> start,
        "end_ms" -> (start + d.getOrElse("triggerExecution", 0L)),
        "rows" -> p.numInputRows,
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "commit_ms" -> d.getOrElse("commitOffsets", 0L)))
    }.toSeq
    val failedFiles = verify(ctx, s.sink, schedule)
    val ws = if (traced) {
      org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
      writes.drain()
    } else Nil
    Map("tick_ms" -> TickMs,
      "files" -> files.map { case (due, wrote) =>
        Map("due_ms" -> due, "written_ms" -> wrote) }.toSeq,
      "batches" -> batches,
      "attempted" -> schedule.length, "failed" -> failedFiles,
      "rows" -> rows,
      "trace" -> (if (!traced) Map.empty[String, Any] else Map(
        "upsert_s" -> ws.map(_.seconds),
        "write_rows" -> ws.map(_.rows).sum,
        "partitions_rewritten" -> ws.map(_.parts).sum,
        "files_per_partition" -> Sinks.filesPerPartition(Seq(Path.of(s.sink))))))
  }

  override def close(): Unit = warm.foreach(_.query.stop())
}

object KlineStreamLoad {
  val Symbols = 50
  val TickMs = 200L
  val RevisionPerMille = 20
  val WarmupTicks = 10
  private val M = Fixture.MinuteMs
  private val Day0 = 1709251200000L // 2024-03-01T00:00:00Z
  private val SeedMinutes = 1440 + 720
  private val ex = Fixture.Shapes.head // binance-shaped bodies

  /** One tick's file: lines plus the keys it carries and their closes. */
  final case class Tick(lines: String, keys: Seq[(String, Long, Long)])

  def symbol(i: Int): String = f"STRM$i%03dUSDT"

  def closeTicks(seed: Long, sym: String, minute: Int, rev: Int): Long =
    10000L + java.lang.Long.remainderUnsigned(
      Fixture.mix(seed, sym.hashCode, minute.toLong, rev.toLong), 1000000L)

  private def line(sym: String, minute: Int, close: Long): String = {
    val ts = Day0 + minute * M
    val c = Fixture.price(close)
    s"$sym\t[[$ts,\"$c\",\"$c\",\"$c\",\"$c\",\"1.5\",${ts + M - 1},\"$c\",7,\"1\",\"1\",\"0\"]]"
  }

  /** The seeded schedule: tick `k` carries minute `firstMinute + k` for
    * every symbol, plus revisions of distinct minutes of the seeded sink. */
  def ticks(seed: Long, n: Int, firstMinute: Int): IndexedSeq[Tick] = {
    val rng = new scala.util.Random(seed)
    val revised = scala.collection.mutable.HashSet.empty[(Int, Int)]
    (0 until n).map { k =>
      val minute = firstMinute + k
      val keys = ArrayBuffer.empty[(String, Long, Long)]
      val lines = new StringBuilder
      (0 until Symbols).foreach { i =>
        val s = symbol(i)
        val c = closeTicks(seed, s, minute, 0)
        lines.append(line(s, minute, c)).append('\n')
        keys += ((s, Day0 + minute * M, c))
        if (rng.nextInt(1000) < RevisionPerMille) {
          var m = -1
          while (m < 0 || revised.contains((i, m)))
            m = if (rng.nextInt(4) == 0) rng.nextInt(1440)
                else 1440 + rng.nextInt(720)
          revised += ((i, m))
          val rc = closeTicks(seed, s, m, 1)
          lines.append(line(s, m, rc)).append('\n')
          keys += ((s, Day0 + m * M, rc))
        }
      }
      Tick(lines.toString, keys.toSeq)
    }
  }

  /** Seed the sink (through the engine's own sink): yesterday full, today
    * up to noon, every symbol. */
  private def seedSink(ctx: Ctx, sink: String): Unit = {
    val rows = ctx.spark.range(Symbols.toLong * SeedMinutes)
      .select((col("id") % Symbols).cast("int").as("i"),
        (col("id") / Symbols).cast("int").as("m"))
      .select(
        lit(ex.id).cast("short").as("exchange_id"),
        lit(Fixture.InstType).cast("byte").as("inst_type"),
        format_string("STRM%03dUSDT", col("i")).as("symbol"),
        (lit(Day0) + col("m") * M).as("ts"))
      .withColumn("dt", timestamp_millis(col("ts")))
      .withColumn("p", (lit(10000) + pmod(xxhash64(lit(ctx.seed), col("symbol"),
        col("ts")), lit(1000000L))).cast("decimal(38,18)") / 10000)
      .select(col("exchange_id"), col("inst_type"), col("symbol"), col("ts"),
        col("dt"), col("p").cast("decimal(38,18)").as("open"),
        col("p").cast("decimal(38,18)").as("high"),
        col("p").cast("decimal(38,18)").as("low"),
        col("p").cast("decimal(38,18)").as("close"),
        lit(1.5).cast("decimal(38,18)").as("volume"),
        col("p").cast("decimal(38,18)").as("quote_volume"),
        lit(7L).as("count"))
      .withColumn("dt_date", date_format(col("dt"), "yyyy-MM-dd"))
    UpsertSink.upsert(ctx.spark, sink, rows, Seq("exchange_id", "inst_type",
      "symbol", "ts"), "ts", partitionCol = Some("dt_date"))
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val d = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(d)
      else Files.copy(p, d, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
  }

  final case class Stream(drop: Path, staging: Path, sink: String,
      query: org.apache.spark.sql.streaming.StreamingQuery)

  private def startStream(ctx: Ctx, golden: Path, name: String): Stream = {
    val dir = ctx.work.resolve(name)
    val drop = dir.resolve("drop")
    val staging = dir.resolve("staging")
    Files.createDirectories(drop)
    Files.createDirectories(staging)
    val sink = dir.resolve("sink")
    copyTree(golden, sink)
    val q = KlineStream.ingest(ctx.spark, drop.toString,
      dir.resolve("checkpoint").toString, sink.toString, ex.name, ex.id,
      Fixture.InstType, M, Trigger.ProcessingTime(0L))
    Stream(drop, staging, sink.toString, q)
  }

  private def drop(s: Stream, f: String, t: Tick): Unit = {
    Files.writeString(s.staging.resolve(f), t.lines)
    Files.move(s.staging.resolve(f), s.drop.resolve(f),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Ticks whose rows are not in the sink as the latest revision, plus
    * one per duplicated key. */
  private def verify(ctx: Ctx, sink: String, schedule: Seq[Tick]): Int = {
    import ctx.spark.implicits._
    val df = ctx.spark.read.parquet(sink)
    val dupKeys = df.groupBy("symbol", "ts").count().where(col("count") > 1)
      .count()
    val expected = schedule.zipWithIndex.flatMap { case (t, k) =>
      t.keys.map { case (s, ts, c) => (k, s, ts, c) } }
      .toDF("tick", "symbol", "ts", "want")
    val got = df.select(col("symbol"), col("ts"),
      (col("close") * 10000).cast("long").as("close"))
    val badTicks = expected.join(got, Seq("symbol", "ts"), "left_outer")
      .where(col("close").isNull || col("close") =!= col("want"))
      .select("tick").distinct().count()
    val total = df.count()
    val wantTotal = Symbols.toLong * (SeedMinutes + WarmupTicks + schedule.length)
    (badTicks + dupKeys + (if (total != wantTotal) 1 else 0)).toInt
  }
}
