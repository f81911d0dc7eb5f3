package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("upsert").toString + "/t"

  test("partitioned sink reads prune partitions (PartitionFilters + file count)") {
    // the 100 TB read path: a date filter on a partitioned table must prune
    // DIRECTORIES (PartitionFilters), not scan-and-discard rows
    val path = tmp()
    val rows = Seq(("BTC", 1L, 1.0, "2024-01-01"), ("BTC", 2L, 2.0, "2024-01-02"),
      ("ETH", 3L, 3.0, "2024-01-03")).toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, rows, Seq("symbol", "ts"), "ts",
      partitionCol = Some("dt_date"))
    val q = spark.read.parquet(path).where($"dt_date" === "2024-01-02")
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters"), plan.takeRight(800))
    assert(plan.contains("dt_date"), plan.takeRight(800))
    val scan = q.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scan.nonEmpty)
    // only the matching partition's files are selected
    assert(scan.get.selectedPartitions.partitionCount == 1)
    assert(q.count() == 1)
  }

  test("upsert: insert then full-row replace, newest wins (Doris UNIQUE key)") {
    val path = tmp()
    val v1 = Seq(("BTC", 1000L, 10.0), ("ETH", 1000L, 20.0))
      .toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts")
    val v2 = Seq(("BTC", 1000L, 11.0), ("SOL", 1000L, 30.0))
      .toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts")
    val out = spark.read.parquet(path)
      .as[(String, Long, Double)].collect().sortBy(_._1)
    assert(out.toList == List(("BTC", 1000L, 11.0), ("ETH", 1000L, 20.0),
      ("SOL", 1000L, 30.0)))
  }

  test("upsert is idempotent (re-loading the same batch is a no-op)") {
    val path = tmp()
    val b = Seq(("BTC", 1L, 1.0)).toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, b, Seq("symbol", "ts"), "ts")
    UpsertSink.upsert(spark, path, b, Seq("symbol", "ts"), "ts")
    assert(spark.read.parquet(path).count() == 1)
  }

  test("upsert with partition column only rewrites touched partitions") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0, "2024-01-01"), ("BTC", 2L, 2.0, "2024-01-02"))
      .toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts", Some("dt_date"))
    val v2 = Seq(("BTC", 2L, 22.0, "2024-01-02"))
      .toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts", Some("dt_date"))
    val out = spark.read.parquet(path)
      .select("symbol", "ts", "close").as[(String, Long, Double)]
      .collect().sortBy(_._2)
    assert(out.toList == List(("BTC", 1L, 1.0), ("BTC", 2L, 22.0)))
  }

  test("upsert evaluates each update row once") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0, "2024-01-01"), ("BTC", 2L, 2.0, "2024-01-02"),
      ("BTC", 3L, 3.0, "2024-01-03")).toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts", Some("dt_date"))
    // an update whose lineage counts the rows it produces: ts 2..5, one of
    // them in a day the table does not have yet. The count is a filter, so
    // no column pruning of a later step can skip it.
    val evaluated = spark.sparkContext.longAccumulator("update_rows")
    val counted = udf { (_: Long) => evaluated.add(1); true }.asNondeterministic()
    val v2 = spark.range(2L, 6L, 1L, 2).where(counted($"id"))
      .select(lit("BTC").as("symbol"), $"id".as("ts"),
        ($"id" * 11).cast("double").as("close"),
        when($"id" < 4, concat(lit("2024-01-0"), $"id".cast("string")))
          .otherwise(lit("2024-01-04")).as("dt_date"))
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts", Some("dt_date"))
    assert(evaluated.value == 4L)
    val out = spark.read.parquet(path)
      .select("symbol", "ts", "close").as[(String, Long, Double)]
      .collect().sortBy(_._2)
    assert(out.toList == List(("BTC", 1L, 1.0), ("BTC", 2L, 22.0),
      ("BTC", 3L, 33.0), ("BTC", 4L, 44.0), ("BTC", 5L, 55.0)))
  }

  test("an upsert that mismatches the stored partition layout fails before writing") {
    def table(p: String) = spark.read.parquet(p)
      .select("symbol", "ts", "close").as[(String, Long, Double)]
      .collect().sortBy(_._2).toList
    val v1 = Seq(("BTC", 1L, 1.0, "2024-01-01"), ("BTC", 2L, 2.0, "2024-01-02"))
      .toDF("symbol", "ts", "close", "dt_date")
    val stored = List(("BTC", 1L, 1.0), ("BTC", 2L, 2.0))
    val path = tmp()
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts", Some("dt_date"))
    // a different partition column, or an update without the stored one
    intercept[IllegalArgumentException](UpsertSink.upsert(spark, path,
      Seq(("BTC", 3L, 3.0, "2024-01-03")).toDF("symbol", "ts", "close", "day"),
      Seq("symbol", "ts"), "ts", Some("day")))
    intercept[IllegalArgumentException](UpsertSink.upsert(spark, path,
      Seq(("BTC", 3L, 3.0)).toDF("symbol", "ts", "close"),
      Seq("symbol", "ts"), "ts"))
    assert(table(path) == stored)
    // a flat table is never partitioned beside its root files
    val flat = tmp()
    UpsertSink.upsert(spark, flat, v1, Seq("symbol", "ts"), "ts")
    intercept[IllegalArgumentException](UpsertSink.upsert(spark, flat, v1,
      Seq("symbol", "ts"), "ts", Some("dt_date")))
    assert(table(flat) == stored)
  }

  test("append skips empty batches (K3)") {
    val path = tmp()
    UpsertSink.append(spark, path,
      Seq(("a", 1L)).toDF("k", "v").where($"v" > 99))
    assert(!new java.io.File(path).exists())
    UpsertSink.append(spark, path, Seq(("a", 1L)).toDF("k", "v"))
    assert(spark.read.parquet(path).count() == 1)
  }

  private def fsOf(path: String) =
    new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (name, length, mtime) of every file in a partition dir — byte-identity
    * proxy for "this partition was not rewritten". */
  private def partFiles(path: String, part: String) = {
    fsOf(path).listStatus(new org.apache.hadoop.fs.Path(path, part))
      .map(st => (st.getPath.getName, st.getLen, st.getModificationTime))
      .sortBy(_._1).toList
  }

  test("partitioned upsert leaves untouched partition files byte-identical") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0, "2024-01-01"), ("BTC", 2L, 2.0, "2024-01-02"))
      .toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts", Some("dt_date"))
    val before = partFiles(path, "dt_date=2024-01-01")
    assert(before.nonEmpty)
    Thread.sleep(5) // mtime resolution guard
    val v2 = Seq(("BTC", 2L, 22.0, "2024-01-02"))
      .toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts", Some("dt_date"))
    // untouched day: same files, same sizes, same mtimes — never rewritten
    assert(partFiles(path, "dt_date=2024-01-01") == before)
    val out = spark.read.parquet(path)
      .select("symbol", "ts", "close").as[(String, Long, Double)]
      .collect().sortBy(_._2)
    assert(out.toList == List(("BTC", 1L, 1.0), ("BTC", 2L, 22.0)))
  }

  test("partitioned upsert merges the NULL-partition dir (null-safe touch detection)") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, Some("2024-01-01")), ("ETH", 2L, None))
      .toDF("symbol", "ts", "dt_date")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts", Some("dt_date"))
    // an update landing in the NULL partition must merge with the stored
    // NULL-partition rows, not displace them
    val v2 = Seq(("SOL", 3L, Option.empty[String])).toDF("symbol", "ts", "dt_date")
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts", Some("dt_date"))
    val out = spark.read.parquet(path).select("symbol").as[String]
      .collect().sorted
    assert(out.toList == List("BTC", "ETH", "SOL"))
  }

  test("crash recovery: leftover .old- table aside is restored, not orphaned") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0)).toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts")
    // simulate a crash between swapWrite's two renames: table dir moved
    // aside, nothing at <path>
    val fs = fsOf(path)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old-deadbeef"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path)))
    // next upsert must NOT cold-start from its own batch alone
    val v2 = Seq(("ETH", 2L, 2.0)).toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts")
    val out = spark.read.parquet(path).as[(String, Long, Double)]
      .collect().sortBy(_._1)
    assert(out.toList == List(("BTC", 1L, 1.0), ("ETH", 2L, 2.0)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old-deadbeef")))
  }

  test("crash recovery: displaced partition dir in .old- aside is restored") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0, "2024-01-01"), ("BTC", 2L, 2.0, "2024-01-02"))
      .toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts", Some("dt_date"))
    // simulate a crash mid-swapPartitions: one partition moved aside
    val fs = fsOf(path)
    val aside = new org.apache.hadoop.fs.Path(path + ".old-cafe01")
    fs.mkdirs(aside)
    fs.rename(new org.apache.hadoop.fs.Path(path, "dt_date=2024-01-01"),
      new org.apache.hadoop.fs.Path(aside, "dt_date=2024-01-01"))
    val v2 = Seq(("BTC", 3L, 3.0, "2024-01-03"))
      .toDF("symbol", "ts", "close", "dt_date")
    UpsertSink.upsert(spark, path, v2, Seq("symbol", "ts"), "ts", Some("dt_date"))
    val out = spark.read.parquet(path)
      .select("symbol", "ts", "close").as[(String, Long, Double)]
      .collect().sortBy(_._2)
    assert(out.toList == List(("BTC", 1L, 1.0), ("BTC", 2L, 2.0), ("BTC", 3L, 3.0)))
    assert(!fs.exists(aside))
  }

  test("append into a crashed-swap window restores the old table first") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0)).toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts")
    val fs = fsOf(path)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + ".old-beefcafe"))
    UpsertSink.append(spark, path,
      Seq(("ETH", 2L, 2.0)).toDF("symbol", "ts", "close"))
    // without recovery the append re-creates the dir and the next call
    // would discard the displaced table as a completed swap
    val out = spark.read.parquet(path).select("symbol").as[String]
      .collect().sorted
    assert(out.toList == List("BTC", "ETH"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + ".old-beefcafe")))
  }

  test("crash recovery: leftover .tmp- dirs are discarded") {
    val path = tmp()
    val v1 = Seq(("BTC", 1L, 1.0)).toDF("symbol", "ts", "close")
    UpsertSink.upsert(spark, path, v1, Seq("symbol", "ts"), "ts")
    val fs = fsOf(path)
    val tmpDir = new org.apache.hadoop.fs.Path(path + ".tmp-12345678")
    fs.mkdirs(tmpDir)
    UpsertSink.upsert(spark, path,
      Seq(("ETH", 2L, 2.0)).toDF("symbol", "ts", "close"),
      Seq("symbol", "ts"), "ts")
    assert(!fs.exists(tmpDir))
    assert(spark.read.parquet(path).count() == 2)
  }

  test("property: replaying any batch sequence leaves the sink unchanged (seeded)") {
    // the sink's core contract: at-least-once delivery (replays, retries)
    // must converge to the same table as exactly-once
    val rng = new scala.util.Random(7)
    def randomBatch() = Seq.fill(1 + rng.nextInt(6)) {
      val sym = s"S${rng.nextInt(4)}"
      val ts = (rng.nextInt(3) + 1) * 1000L
      // partition col is a function of the key (as dt_date is of ts for
      // klines) and close derives from the key too: same-key rows are
      // identical, so the version tie-break can't introduce nondeterminism
      val day = s"2024-01-0${ts / 1000}"
      (sym, ts, ts / 100.0 + sym.last.toInt, day)
    }.toDF("symbol", "ts", "close", "dt_date")
    def table(path: String) = spark.read.parquet(path)
      .select("symbol", "ts", "close", "dt_date")
      .as[(String, Long, Double, String)].collect().sortBy(r => (r._1, r._2))
      .toList
    val once = tmp(); val replayed = tmp()
    (1 to 5).foreach { _ =>
      val b = randomBatch()
      UpsertSink.upsert(spark, once, b, Seq("symbol", "ts"), "ts", Some("dt_date"))
      // at-least-once: the replayed sink sees every batch twice
      UpsertSink.upsert(spark, replayed, b, Seq("symbol", "ts"), "ts", Some("dt_date"))
      UpsertSink.upsert(spark, replayed, b, Seq("symbol", "ts"), "ts", Some("dt_date"))
    }
    assert(table(once) == table(replayed))
  }

  test("updateFields dedupes same-key rows within a batch (one survivor)") {
    val path = tmp()
    val stored = Seq(("binance", "BTCUSDT", "0.01"))
      .toDF("exchange", "symbol", "tick_size")
    UpsertSink.updateFields(spark, path, stored,
      Seq("exchange", "symbol"), Seq("tick_size"))
    // two updates for the SAME key in one batch: must collapse to one row
    // (winner = greatest updateCols tuple), not insert a duplicate key
    val upd = Seq(("binance", "BTCUSDT", "0.5"), ("binance", "BTCUSDT", "0.9"))
      .toDF("exchange", "symbol", "tick_size")
    UpsertSink.updateFields(spark, path, upd,
      Seq("exchange", "symbol"), Seq("tick_size"))
    val out = spark.read.parquet(path)
      .as[(String, String, String)].collect()
    assert(out.toList == List(("binance", "BTCUSDT", "0.9")))
  }

  test("updateFields: only listed columns update; others keep stored values (MySQL upsert)") {
    val path = tmp()
    val stored = Seq(("binance", "BTCUSDT", 1, "0.01", 2, 100L))
      .toDF("exchange", "symbol", "inst_type", "tick_size", "status", "onboard_time")
    UpsertSink.updateFields(spark, path, stored,
      Seq("exchange", "symbol", "inst_type"), Seq("tick_size", "status"))
    // update tick_size+status; onboard_time in the update must be IGNORED
    val upd = Seq(("binance", "BTCUSDT", 1, "0.001", 3, 999L),
      ("binance", "NEWUSDT", 1, "0.1", 1, 555L))
      .toDF("exchange", "symbol", "inst_type", "tick_size", "status", "onboard_time")
    UpsertSink.updateFields(spark, path, upd,
      Seq("exchange", "symbol", "inst_type"), Seq("tick_size", "status"))
    val out = spark.read.parquet(path)
      .orderBy("symbol")
      .as[(String, String, Int, String, Int, Long)].collect()
    assert(out(0) == ("binance", "BTCUSDT", 1, "0.001", 3, 100L)) // kept 100
    assert(out(1) == ("binance", "NEWUSDT", 1, "0.1", 1, 555L))   // inserted whole
  }
}
