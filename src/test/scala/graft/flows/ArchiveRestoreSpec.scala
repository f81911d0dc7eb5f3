package graft.flows

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SQLiteReader

/** The S7 unpack chain against a GENUINE SQLite archive fixture
  * (src/test/resources/archive: a market_snapshot .db produced by the real
  * SQLite library, tar.gz'd with a sha256 sidecar — golden-fixture
  * technique, same as the exchange response fixtures). Covers the digest
  * gate, zip-slip guard, b-tree walk (multi-page, overflow chain, rowid
  * alias, NULL/blob), the Spark per-file read, and the end-to-end
  * hour-grain restore merge.
  */
class ArchiveRestoreSpec extends SparkSpec {
  import spark.implicits._

  private def res(name: String): File =
    new File(getClass.getResource("/archive/" + name).toURI)

  private val tar = res("sqlite_2025-12-16_aws.tar.gz")
  private val sidecar = res("sqlite_2025-12-16_aws.tar.gz.sha256")
  private lazy val extractDir: File = {
    val work = Files.createTempDirectory("restore").toFile
    val d = new File(work, "2025-12-16")
    ArchiveRestore.extractTarGz(tar, d)
    d
  }
  // 2025-12-16 15:00 UTC; fixture: 2 symbols × hours 15-17 × 12 rows/hour
  private val Base = 1765897200000L

  test("sha256 sidecar verifies; a corrupted archive is refused") {
    ArchiveRestore.verifyArchive(tar, sidecar) // must not throw
    val bad = Files.createTempFile("bad", ".tar.gz").toFile
    val bytes = Files.readAllBytes(tar.toPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(bad.toPath, bytes)
    val e = intercept[IllegalArgumentException](
      ArchiveRestore.verifyArchive(bad, sidecar))
    assert(e.getMessage.contains("SHA256 mismatch"))
  }

  test("extract locates the .db; zip-slip entries are refused") {
    val dbs = ArchiveRestore.sqliteFiles(extractDir)
    assert(dbs.map(_.getName) == Seq("market_snapshot_2025-12-16.db"))

    // hand-roll a tar.gz with a ../ entry
    val evil = Files.createTempFile("evil", ".tar.gz").toFile
    val os = new org.apache.commons.compress.archivers.tar.TarArchiveOutputStream(
      new org.apache.commons.compress.compressors.gzip.GzipCompressorOutputStream(
        new java.io.FileOutputStream(evil)))
    val entry = new org.apache.commons.compress.archivers.tar.TarArchiveEntry(
      "../../outside.db")
    entry.setSize(2)
    os.putArchiveEntry(entry); os.write("hi".getBytes); os.closeArchiveEntry()
    os.close()
    val e = intercept[IllegalArgumentException](ArchiveRestore.extractTarGz(
      evil, new File(Files.createTempDirectory("slip").toFile, "out")))
    assert(e.getMessage.contains("escapes extraction dir"))
  }

  test("b-tree reader: multi-page table, schema, row values") {
    val db = ArchiveRestore.sqliteFiles(extractDir).head
    val (cols, rows) = SQLiteReader.readTable(db, "market_snapshot")
    assert(cols.take(5) == Seq("ts", "symbol", "exchange_id", "inst_type", "dt"))
    assert(cols.size == 70 && rows.size == 72)
    // fixture formula: col i value = (ts % 97)·1.0 + i·0.5 + sym_i.
    // NB the reader reports STORAGE classes: SQLite stores an integral
    // value in a REAL column as INTEGER on disk (documented space
    // optimization), so integral doubles surface as Long here — the typed
    // coercion happens in ArchiveRestore.readSqlite.
    def num(v: Any): Double = v match {
      case l: java.lang.Long => l.toDouble
      case d: java.lang.Double => d
    }
    val btc0 = rows.find(r => r(0) == java.lang.Long.valueOf(Base) &&
      r(1) == "BTCUSDT").get
    assert(btc0(2) == java.lang.Long.valueOf(1L))
    val markPrice = num(btc0(5))
    assert(markPrice == (Base % 97).toDouble)
    assert(num(btc0(6)) == markPrice + 0.5)
  }

  test("b-tree reader: overflow chain, rowid alias, NULL, blob") {
    val db = ArchiveRestore.sqliteFiles(extractDir).head
    val (cols, rows) = SQLiteReader.readTable(db, "notes")
    assert(cols == Seq("id", "body", "extra", "score"))
    val byId = rows.map(r => r(0).asInstanceOf[java.lang.Long].toLong -> r).toMap
    assert(byId.keySet == Set(42L, 43L, 44L)) // id is the rowid alias
    val long = byId(42L)(1).asInstanceOf[String]
    assert(long.length == 10000) // spilled across overflow pages
    val expected = (0 until 10000).map(i => ('a' + (i * 7) % 26).toChar).mkString
    assert(long == expected)
    assert(byId(42L)(2).asInstanceOf[Array[Byte]].toSeq == (0 until 16).map(_.toByte))
    assert(byId(43L)(1) == null && byId(43L)(3) == null)
    assert(byId(44L)(2).asInstanceOf[Array[Byte]].toSeq ==
      Seq(0xDE, 0xAD, 0xBE, 0xEF).map(_.toByte))
    assert(byId(44L)(3) == java.lang.Double.valueOf(-1.5))
  }

  test("Spark read: one task per file, typed 70-col frame") {
    val dbs = ArchiveRestore.sqliteFiles(extractDir)
    val df = ArchiveRestore.readSqlite(spark, dbs, "market_snapshot")
    assert(df.rdd.getNumPartitions == dbs.size)
    assert(df.schema == ArchiveRestore.snapshotSchema)
    assert(df.count() == 72)
    val hr = df.where($"symbol" === "ETHUSDT" && $"ts" >= Base + 3600000L &&
      $"ts" < Base + 7200000L)
    assert(hr.count() == 12)
    // dt TEXT round-trips to the same UTC instant as the epoch-ms ts
    assert(df.where(unix_millis($"dt") =!= $"ts").count() == 0)
  }

  test("end-to-end: verify → extract → range-read → merge repairs the hour") {
    val work = Files.createTempDirectory("restoreE2e").toFile
    val sink = new File(work, "market_snapshot").toString
    // seed the sink with a PARTIAL hour: 3 of 12 BTCUSDT rows for hour 16
    val full = ArchiveRestore.readSqlite(spark,
      ArchiveRestore.sqliteFiles(extractDir), "market_snapshot")
    val hourStart = Base + 3600000L
    val partial = full.where($"symbol" === "BTCUSDT" &&
      $"ts" >= hourStart && $"ts" < hourStart + 3600000L)
    graft.sinks.UpsertSink.upsert(spark, sink, partial.limit(3),
      Seq("symbol", "exchange_id", "inst_type", "ts"), "ts")
    assert(spark.read.parquet(sink).count() == 3)

    val restored = ArchiveRestore.restoreHour(spark, tar, sidecar, work,
      sink, "BTCUSDT", exchangeId = 1, instType = 1, hourStart)
    assert(restored.count() == 12)
    val after = spark.read.parquet(sink)
    assert(after.count() == 12) // merged, not duplicated
    assert(after.where($"symbol" === "BTCUSDT").count() == 12)
    // idempotent like every sink merge: run it again, nothing changes
    ArchiveRestore.restoreHour(spark, tar, sidecar, work, sink,
      "BTCUSDT", 1, 1, hourStart)
    assert(spark.read.parquet(sink).count() == 12)
  }

  test("end-to-end restore into a dt_date-partitioned sink keeps its layout") {
    val work = Files.createTempDirectory("restorePart").toFile
    val sink = new File(work, "market_snapshot").toString
    val full = ArchiveRestore.readSqlite(spark,
      ArchiveRestore.sqliteFiles(extractDir), "market_snapshot")
    val hourStart = Base + 3600000L
    val partial = full.where($"symbol" === "BTCUSDT" &&
      $"ts" >= hourStart && $"ts" < hourStart + 3600000L).limit(3)
    graft.sinks.UpsertSink.upsert(spark, sink,
      partial.withColumn("dt_date", date_format($"dt", "yyyy-MM-dd")),
      Seq("symbol", "exchange_id", "inst_type", "ts"), "ts", Some("dt_date"))

    ArchiveRestore.restoreHour(spark, tar, sidecar, work, sink, "BTCUSDT",
      exchangeId = 1, instType = 1, hourStart)
    val after = spark.read.parquet(sink)
    assert(after.count() == 12)
    assert(after.select($"ts").distinct().count() == 12)
    // still one dir per day, no flat file beside them
    val root = new File(sink).listFiles().map(_.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
    assert(root.toSeq == Seq("dt_date=2025-12-16"), root.mkString(","))
  }
}
