package graft.sinks

import java.nio.file.Files
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpec

class UpsertSinkSpec extends SparkSpec {
  import spark.implicits._
  import UpsertSinkSpec.R

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

  /** The window merge the sink used before its anti-join: stored rows of
    * the touched days unioned with the update, one row per key, any update
    * beating the stored row and the highest version winning in the batch. */
  private def windowMerge(stored: DataFrame, updates: DataFrame,
      keys: Seq[String], versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_pri").desc, col(versionCol).desc)
    stored.select(updates.columns.map(col): _*).withColumn("_pri", lit(0))
      .unionByName(updates.withColumn("_pri", lit(1)))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_pri", "_rn")
  }

  test("property: the anti-join merge = the window merge, untouched days byte-identical") {
    import org.scalacheck.{Gen, Prop}
    // keys (sym, ts) with NULL parts; days d1-d3 plus NULL, and d4 only in
    // updates (a new day); v is the version, distinct within an update
    val genRow = for {
      sym <- Gen.frequency(4 -> Gen.oneOf("A", "B").map(Option(_)), 1 -> Gen.const(None))
      ts <- Gen.frequency(4 -> Gen.choose(1L, 4L).map(Option(_)), 1 -> Gen.const(None))
      close <- Gen.option(Gen.choose(0, 99).map(_.toDouble))
      day <- Gen.frequency(3 -> Gen.oneOf("d1", "d2", "d3").map(Option(_)), 1 -> Gen.const(None))
    } yield R(sym, ts, 0L, close, day)
    def distinctKeys(rs: List[R]) = rs.groupBy(r => (r.sym, r.ts)).values.map(_.head).toList
    val genCase = for {
      stored <- Gen.nonEmptyListOf(genRow).map(distinctKeys)
      fresh <- Gen.nonEmptyListOf(genRow)
      newDay <- Gen.listOf(genRow.map(_.copy(day = Some("d4"))))
      dups <- Gen.someOf(stored) // stored keys revised, some more than once
    } yield (stored, (fresh ++ newDay ++ dups ++ dups.take(2)).zipWithIndex
      .map { case (r, i) => r.copy(v = i.toLong, close = Some(i.toDouble)) })
    val cols = Seq("sym", "ts", "v", "close", "day")
    def rows(df: DataFrame) = df.select(cols.map(col): _*).as[R].collect()
      .toList.sortBy(r => (r.sym, r.ts, r.day, r.v))
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(11L))
    val res = org.scalacheck.Test.check(params, Prop.forAll(genCase) {
      case (stored, update) =>
        val path = tmp()
        UpsertSink.upsert(spark, path, stored.toDF(cols: _*), Seq("sym", "ts"),
          "v", Some("day"))
        val before = rows(spark.read.parquet(path))
        val dirs = fsOf(path).listStatus(new org.apache.hadoop.fs.Path(path))
          .filter(_.isDirectory).map(_.getPath.getName).toList
        val touchedDays = update.map(_.day).toSet
        def dirOf(d: Option[String]) = s"day=${d.getOrElse("__HIVE_DEFAULT_PARTITION__")}"
        val untouched = dirs.filterNot(d => touchedDays.map(dirOf).contains(d))
        val filesBefore = untouched.map(partFiles(path, _))
        Thread.sleep(5) // mtime resolution guard
        val upd = update.toDF(cols: _*)
        UpsertSink.upsert(spark, path, upd, Seq("sym", "ts"), "v", Some("day"))
        val (hit, kept) = before.partition(r => touchedDays(r.day))
        val want = kept ++ rows(windowMerge(hit.toDF(cols: _*), upd,
          Seq("sym", "ts"), "v"))
        val got = rows(spark.read.parquet(path))
        Prop(got == want.sortBy(r => (r.sym, r.ts, r.day, r.v))) :|
          s"got $got want $want" &&
          Prop(untouched.map(partFiles(path, _)) == filesBefore) :| "untouched"
    })
    assert(res.passed, res.status.toString)
  }

  test("a stored file lacking a declared column fails the upsert before it writes") {
    val path = tmp()
    UpsertSink.upsert(spark, path, Seq(("BTC", 1L, 1.0, "2024-01-01"),
      ("BTC", 2L, 2.0, "2024-01-02")).toDF("symbol", "ts", "close", "dt_date"),
      Seq("symbol", "ts"), "ts", Some("dt_date"))
    // the touched day's only file has no `close`; the other day keeps it
    val day = path + "/dt_date=2024-01-01"
    fsOf(path).delete(new org.apache.hadoop.fs.Path(day), true)
    Seq(("BTC", 1L)).toDF("symbol", "ts").coalesce(1).write.parquet(day)
    val before = partFiles(path, "dt_date=2024-01-01")
    val e = intercept[IllegalArgumentException](UpsertSink.upsert(spark, path,
      Seq(("BTC", 1L, 11.0, "2024-01-01")).toDF("symbol", "ts", "close", "dt_date"),
      Seq("symbol", "ts"), "ts", Some("dt_date")))
    assert(e.getMessage.contains("close"), e.getMessage)
    assert(partFiles(path, "dt_date=2024-01-01") == before)
    // a stored type the update does not share fails the same way
    intercept[IllegalArgumentException](UpsertSink.upsert(spark, path,
      Seq(("BTC", "1", 11.0, "2024-01-02")).toDF("symbol", "ts", "close", "dt_date"),
      Seq("symbol", "ts"), "ts", Some("dt_date")))
    assert(spark.read.parquet(path + "/dt_date=2024-01-02")
      .select("ts", "close").as[(Long, Double)].collect().toList == List((2L, 2.0)))
  }

  test("20 upserts into a day leave its file count bounded") {
    val path = tmp()
    val seed = spark.range(0L, 2000L, 1L, 3)
      .select(lit("BTC").as("symbol"), $"id".as("ts"), $"id".cast("double").as("close"),
        when($"id" % 2 === 0, "2024-01-01").otherwise("2024-01-02").as("dt_date"))
    UpsertSink.upsert(spark, path, seed, Seq("symbol", "ts"), "ts", Some("dt_date"))
    def files(day: String) = partFiles(path, s"dt_date=$day")
      .count(f => f._1.endsWith(".parquet"))
    val bound = spark.conf.get("spark.sql.shuffle.partitions").toInt
    (1 to 20).foreach { i =>
      // one revision and one new row in day 1, and on odd rounds in day 2
      val days = if (i % 2 == 1) Seq("2024-01-01", "2024-01-02") else Seq("2024-01-01")
      UpsertSink.upsert(spark, path, days.zipWithIndex.flatMap { case (d, j) =>
        Seq(("BTC", (2 * i + j).toLong, -i.toDouble, d),
          ("BTC", 10000L + 2 * i + j, -i.toDouble, d))
      }.toDF("symbol", "ts", "close", "dt_date"),
        Seq("symbol", "ts"), "ts", Some("dt_date"))
      assert(files("2024-01-01") <= bound && files("2024-01-02") <= bound,
        s"round $i: ${files("2024-01-01")}, ${files("2024-01-02")} files")
    }
    assert(spark.read.parquet(path).count() == 2000L + 30L)
  }

  test("a stream micro-batch upsert runs at most 4 Spark jobs") {
    val base = Files.createTempDirectory("jobs")
    val drop = base.resolve("drop"); Files.createDirectories(drop)
    val sink = base.resolve("sink").toString
    val day1 = 1704067200000L // 2024-01-01
    def k(sym: String, ts: Long, close: Int) =
      s"""$sym\t[[$ts,"1","2","0.5","$close","10",${ts + 59999},"15",7,"1","1","0"]]"""
    // a two-day sink, then one batch revising day 1 and adding to day 2
    Files.write(drop.resolve("a.txt"), (for {
      s <- Seq("BTCUSDT", "ETHUSDT"); d <- 0 to 1; m <- 0 until 50
    } yield k(s, day1 + d * 86400000L + m * 60000L, 1)).mkString("\n").getBytes)
    graft.streaming.KlineStream.ingest(spark, drop.toString,
      base.resolve("ckpt0").toString, sink, "binance", 1, 1, 60000L,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination(60000)
    val drop2 = base.resolve("drop2"); Files.createDirectories(drop2)
    Files.write(drop2.resolve("b.txt"), Seq(k("BTCUSDT", day1, 2),
      k("ETHUSDT", day1 + 86400000L + 50 * 60000L, 2)).mkString("\n").getBytes)
    val jobs = jobsOf(graft.streaming.KlineStream.ingest(spark, drop2.toString,
      base.resolve("ckpt1").toString, sink, "binance", 1, 1, 60000L,
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).awaitTermination(60000))
    assert(jobs <= 4, s"$jobs jobs")
    assert(spark.read.parquet(sink).count() == 201L)
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

object UpsertSinkSpec {
  /** A row of the merge property's sink: key (sym, ts), version v. */
  final case class R(sym: Option[String], ts: Option[Long], v: Long,
      close: Option[Double], day: Option[String])
}
