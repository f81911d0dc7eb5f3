package graft.flows

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class IntegrityAndMacroSpec extends SparkSpec {
  import spark.implicits._

  private val H = 3600000L
  private val T0 = 1704067200000L

  test("hourlyStatus classifies EMPTY/PARTIAL/OK in one pass") {
    // key A: hour0 full (3 rows), hour1 partial (1), hour2 empty
    val facts = Seq(
      ("A", T0 + 1), ("A", T0 + 2), ("A", T0 + 3),
      ("A", T0 + H + 1),
      ("B", T0 + 2 * H + 5)).toDF("sym", "ts")
    val keys = Seq("A", "B").toDF("sym")
    val st = CheckIntegrity.hourlyStatus(facts, keys, Seq("sym"), "ts",
      T0, T0 + 3 * H, expectedPerHour = 3)
      .select($"sym", $"hour_ms", $"status").as[(String, Long, String)]
      .collect().map(r => (r._1, (r._2 - T0) / H) -> r._3).toMap
    assert(st(("A", 0L)) == "OK")
    assert(st(("A", 1L)) == "PARTIAL")
    assert(st(("A", 2L)) == "EMPTY")
    assert(st(("B", 0L)) == "EMPTY")
    assert(st(("B", 2L)) == "PARTIAL")
    assert(st.size == 6)
  }

  test("hourlyStatus one hour on runs the same generated code") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // read from a file, as a read-back reads its sink: a local relation
    // would be folded by the optimizer before any code is generated
    val path = Files.createTempDirectory("status").toString + "/facts"
    Seq(("A", T0 + 1), ("A", T0 + H + 2), ("B", T0 + 2 * H + 5))
      .toDF("sym", "ts").write.parquet(path)
    val facts = spark.read.parquet(path)
    val keys = Seq("A", "B").toDF("sym")
    def status(endMs: Long) = CheckIntegrity.hourlyStatus(facts, keys,
      Seq("sym"), "ts", T0, endMs, expectedPerHour = 1)
      .where($"status" === "OK").count()
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(status(T0 + 2 * H) == 2)
    val before = compiles
    assert(status(T0 + 3 * H) == 3)
    assert(compiles == before)
  }

  test("repairFromArchive merges only deficient hours") {
    val sink = Files.createTempDirectory("integ").toString + "/facts"
    val facts = Seq(("A", T0 + 1, 1.0), ("A", T0 + 2, 2.0), ("A", T0 + 3, 3.0))
      .toDF("sym", "ts", "v")
    graft.sinks.UpsertSink.upsert(spark, sink, facts, Seq("sym", "ts"), "ts")
    val keys = Seq("A").toDF("sym")
    val status = CheckIntegrity.hourlyStatus(
      spark.read.parquet(sink), keys, Seq("sym"), "ts",
      T0, T0 + 2 * H, expectedPerHour = 3)
    val deficient = CheckIntegrity.deficientHours(status)
    assert(deficient.count() == 1) // hour1 EMPTY
    // archive holds both hours; only hour1 rows must merge
    val archive = Seq(
      ("A", T0 + 5, 99.0),          // hour0 — must NOT overwrite
      ("A", T0 + H + 7, 7.0), ("A", T0 + H + 8, 8.0), ("A", T0 + H + 9, 9.0))
      .toDF("sym", "ts", "v")
    CheckIntegrity.repairFromArchive(spark, sink, archive, deficient,
      Seq("sym"), "ts")
    val after = spark.read.parquet(sink).as[(String, Long, Double)].collect()
    assert(after.length == 6)
    assert(!after.contains(("A", T0 + 5, 99.0)))
    // re-check: everything OK now
    val st2 = CheckIntegrity.hourlyStatus(
      spark.read.parquet(sink), keys, Seq("sym"), "ts",
      T0, T0 + 2 * H, 3)
    assert(CheckIntegrity.deficientHours(st2).count() == 0)
  }

  test("repairFromArchive keeps a dt_date-partitioned sink partitioned") {
    val sink = Files.createTempDirectory("integ").toString + "/klines"
    val day = "2024-01-01"
    // hour0 full, hour1 empty, stored the way SyncKlines.run lays it out
    val facts = Seq(("A", T0 + 1, 1.0, day), ("A", T0 + 2, 2.0, day),
      ("A", T0 + 3, 3.0, day)).toDF("sym", "ts", "v", "dt_date")
    graft.sinks.UpsertSink.upsert(spark, sink, facts, Seq("sym", "ts"), "ts",
      partitionCol = Some("dt_date"))
    val deficient = CheckIntegrity.deficientHours(CheckIntegrity.hourlyStatus(
      spark.read.parquet(sink), Seq("A").toDF("sym"), Seq("sym"), "ts",
      T0, T0 + 2 * H, expectedPerHour = 3))
    val archive = Seq(("A", T0 + H + 7, 7.0, day), ("A", T0 + H + 8, 8.0, day),
      ("A", T0 + H + 9, 9.0, day)).toDF("sym", "ts", "v", "dt_date")
    CheckIntegrity.repairFromArchive(spark, sink, archive, deficient,
      Seq("sym"), "ts")
    // the next pass touches a different day only
    val nextDay = Seq(("A", T0 + 24 * H, 10.0, "2024-01-02"))
      .toDF("sym", "ts", "v", "dt_date")
    graft.sinks.UpsertSink.upsert(spark, sink, nextDay, Seq("sym", "ts"),
      "ts", partitionCol = Some("dt_date"))
    val after = spark.read.parquet(sink).select("ts").as[Long].collect()
    assert(after.sorted.toList == List(T0 + 1, T0 + 2, T0 + 3, T0 + H + 7,
      T0 + H + 8, T0 + H + 9, T0 + 24 * H))
    val root = new java.io.File(sink)
    assert(root.list().filter(_.startsWith("dt_date=")).sorted.toList ==
      List("dt_date=2024-01-01", "dt_date=2024-01-02"))
    assert(!root.list().exists(_.endsWith(".parquet")), "flat part files")
  }

  test("repairFromArchive verifies sha256 digests; corrupt rows never reach the sink") {
    val sink = Files.createTempDirectory("integ").toString + "/facts"
    def sha(s: String): String = java.security.MessageDigest
      .getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    // hour0 full, hour1 empty
    val facts = Seq(("A", T0 + 1, "p1", sha("p1")), ("A", T0 + 2, "p2", sha("p2")),
      ("A", T0 + 3, "p3", sha("p3"))).toDF("sym", "ts", "payload", "digest")
    graft.sinks.UpsertSink.upsert(spark, sink, facts, Seq("sym", "ts"), "ts")
    val status = CheckIntegrity.hourlyStatus(
      spark.read.parquet(sink), Seq("A").toDF("sym"), Seq("sym"), "ts",
      T0, T0 + 2 * H, expectedPerHour = 3)
    val deficient = CheckIntegrity.deficientHours(status)
    // archive for hour1: one good row, one corrupted (payload ≠ digest),
    // one with an UPPERCASE digest (must still verify)
    val archive = Seq(
      ("A", T0 + H + 7, "good", sha("good")),
      ("A", T0 + H + 8, "tampered", sha("original")),
      ("A", T0 + H + 9, "upper", sha("upper").toUpperCase))
      .toDF("sym", "ts", "payload", "digest")
    val rejected = CheckIntegrity.repairFromArchive(spark, sink, archive,
      deficient, Seq("sym"), "ts",
      payloadCol = Some("payload"), digestCol = Some("digest"))
    assert(rejected.select("payload").as[String].collect().toList ==
      List("tampered"))
    val after = spark.read.parquet(sink)
      .select("payload").as[String].collect().toSet
    assert(after == Set("p1", "p2", "p3", "good", "upper"))
  }

  test("macroKlines parses yfinance-shaped OHLCV into macro_kline_raw_1m") {
    val body = """[{"ts":1704067200000,"open":1.0,"high":2.0,"low":0.5,"close":1.5,"volume":100.0}]"""
    val out = SyncMacro.macroKlines(
      Seq(("ES=F", body)).toDF("symbol", "body"), "yfinance")
      .select($"symbol", $"ts", $"close", $"source")
      .as[(String, Long, Double, String)].head()
    assert(out == (("ES=F", 1704067200000L, 1.5, "yfinance")))
  }

  test("cexInflow aligns to 5m and classifies the exchange label (P13)") {
    val body = """{"code":"0","data":[{"timestamp":1704067517000,"totalValue":-123.5}]}"""
    val out = SyncMacro.cexInflow(
      Seq(("Binance Hot Wallet 3", body)).toDF("exchange_label", "body"),
      Seq("binance" -> "binance", "okx" -> "okx"))
      .select($"ts", $"exchange_class", $"netflow")
      .as[(Long, String, Double)].head()
    assert(out._1 == 1704067500000L) // 5m floor
    assert(out._2 == "binance")
    assert(out._3 == -123.5)
  }
}
