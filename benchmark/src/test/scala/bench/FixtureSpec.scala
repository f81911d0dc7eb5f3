package bench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.UpsertSink
import graft.sources.KlineAdapters

class FixtureSpec extends AnyFunSuite {
  private val M = Fixture.MinuteMs
  private val Start = KlineSyncLoad.StartMs

  private def bodies(seed: Long): Seq[String] = {
    val fx = Fixture(seed, 4, Start, 180)
    val cache = new fx.Cache
    for (ex <- fx.exchanges; s <- fx.symbols(ex); from <- Seq(0, 60, 120))
      yield cache.body(ex, s, Start + from * M, Start + (from + 59) * M,
        ex.limit, Start + 180 * M)
  }

  test("the same seed renders identical bodies, another seed does not") {
    assert(bodies(7L) == bodies(7L))
    assert(bodies(7L) != bodies(8L))
  }

  test("outage minutes and open candles are never served") {
    val fx = Fixture(3L, 40, Start, 1440)
    val cache = new fx.Cache
    val ex = fx.exchanges.head
    val hit = fx.symbols(ex).find(fx.outageStart(ex, _) >= 0).get
    val o = fx.outageStart(ex, hit)
    val around = cache.body(ex, hit, Start + (o - 5) * M,
      Start + (o + Fixture.OutageMinutes + 4) * M, 1000, Start + 1440 * M)
    assert(around.split("\\],\\[").length == 10)
    // at clock t only minutes before t - 1m are closed
    val open = cache.body(ex, hit, Start, Start + 10 * M, 1000, Start + 3 * M)
    assert(open.split("\\],\\[").length == 3 - (if (o < 3) 1 else 0))
  }

  test("a slice honours the venue's page limit") {
    val fx = Fixture(5L, 1, Start, 600)
    val cache = new fx.Cache
    val okx = fx.exchanges.find(_.name == "okx").get
    val s = fx.symbols(okx).head
    val page = cache.body(okx, s, Start, Start + 599 * M, 7, Start + 600 * M)
    assert(page.split("\\],\\[").length == 7)
  }
}

class ClosedFormCheckSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false").getOrCreate()
  private val M = Fixture.MinuteMs
  private val Start = KlineSyncLoad.StartMs

  test("a sink built from the fixture passes; a lost or changed row fails") {
    val fx = Fixture(11L, 3, Start, 240)
    val cache = new fx.Cache
    val last = 239
    val root = java.nio.file.Files.createTempDirectory(
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target")),
      "closedform")
    try check(fx, cache, last, root)
    finally {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  private def check(fx: Fixture, cache: Fixture#Cache, last: Int,
      root: java.nio.file.Path): Unit = {
    import spark.implicits._
    fx.exchanges.foreach { ex =>
      val raw = fx.symbols(ex).flatMap { s =>
        (0 until 240 by ex.limit).map(m => (s, cache.body(ex, s,
          Start + m * M, Start + (m + ex.limit - 1) * M, ex.limit,
          Start + 240 * M)))
      }.toDF("symbol", "body")
      val rows = KlineAdapters.registry((ex.name, Fixture.InstType))(raw, ex.id,
        Fixture.InstType, M).withColumn("dt_date", date_format(col("dt"), "yyyy-MM-dd"))
      UpsertSink.upsert(spark, root.resolve(ex.name).toString, rows,
        Seq("exchange_id", "inst_type", "symbol", "ts"), "ts", Some("dt_date"))
    }
    fx.exchanges.foreach { ex =>
      assert(KlineSyncLoad.closedFormProblems(spark, fx, ex,
        root.resolve(ex.name).toString, last).isEmpty)
    }

    val ex = fx.exchanges.head
    val sink = root.resolve(ex.name).toString
    val victim = fx.symbols(ex).head
    val ts = (0 to last).find(!fx.inOutage(ex, victim, _)).get * M + Start
    // one close price changed: the checksum catches it
    val changed = spark.read.parquet(sink)
      .where(col("symbol") === victim && col("ts") === ts)
      .withColumn("close", col("close") + 1)
    UpsertSink.upsert(spark, sink, changed,
      Seq("exchange_id", "inst_type", "symbol", "ts"), "ts", Some("dt_date"))
    assert(KlineSyncLoad.closedFormProblems(spark, fx, ex, sink, last)
      .exists(_.contains(victim)))
    // and a sync that stopped one minute short is caught too
    assert(KlineSyncLoad.closedFormProblems(spark, fx, fx.exchanges(1),
      root.resolve(fx.exchanges(1).name).toString, last + 1).nonEmpty)
  }
}
