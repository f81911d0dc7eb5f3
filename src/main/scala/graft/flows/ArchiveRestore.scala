package graft.flows

import java.io.{BufferedInputStream, File, FileInputStream, FileOutputStream}
import java.security.MessageDigest

import org.apache.commons.compress.archivers.tar.TarArchiveInputStream
import org.apache.commons.compress.compressors.gzip.GzipCompressorInputStream
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.SQLiteReader

/** The S7 archive unpack chain (reference
  * `system_utils/restore_market_snapshot_from_s3.py:104-191`): fetch a
  * day's `sqlite_<day>_aws.tar.gz` + `.sha256` sidecar, verify the digest,
  * extract once, locate the `.db` file(s), range-read `market_snapshot`
  * for one (symbol, exchange, inst_type, hour), and merge into the sink.
  *
  * Spark-first restatement: the download is an injected `(key → local
  * file)` function (same zero-egress seam as the kline fetch); the SQLite
  * read is [[SQLiteReader]] — executor-side, ONE TASK PER .db FILE, so a
  * multi-day / multi-shard restore parallelizes across archives while each
  * bounded per-day file stays a sequential b-tree walk (the file format is
  * not splittable; the archive, like the reference's, is day-grained). The
  * hour/symbol filter is declarative on the resulting frame, and the merge
  * is the same keyed upsert every other flow uses.
  */
object ArchiveRestore {

  /** Streaming sha256 of a file, hex — `restore_..._s3.py:37-42`. */
  def sha256sum(file: File): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = new BufferedInputStream(new FileInputStream(file))
    try {
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** Sidecar check: first whitespace token of the `.sha256` file is the
    * expected digest (`sha256sum` output format). Mismatch aborts the
    * restore, as in the reference (`raise RuntimeError("SHA256 mismatch")`).
    */
  def verifyArchive(tar: File, sidecar: File): Unit = {
    val expected = scala.io.Source.fromFile(sidecar, "UTF-8").mkString
      .trim.split("\\s+")(0).toLowerCase
    val actual = sha256sum(tar)
    require(expected == actual,
      s"SHA256 mismatch for ${tar.getName}: expected $expected, got $actual")
  }

  /** Extract a .tar.gz under `dest`, refusing entries that escape it
    * (zip-slip). Idempotent at the directory grain like the reference's
    * `if not os.path.exists(extract_dir)` — pass a day-keyed dest. */
  def extractTarGz(tar: File, dest: File): Unit = {
    if (dest.exists()) return
    val staging = new File(dest.getParentFile,
      dest.getName + ".tmp_" + java.util.UUID.randomUUID)
    staging.mkdirs()
    val in = new TarArchiveInputStream(new GzipCompressorInputStream(
      new BufferedInputStream(new FileInputStream(tar))))
    var ok = false
    try {
      var e = in.getNextEntry
      while (e != null) {
        val out = new File(staging, e.getName)
        require(out.getCanonicalPath.startsWith(
          staging.getCanonicalPath + File.separator),
          s"archive entry escapes extraction dir: ${e.getName}")
        // links and specials are rejected, not silently materialized as
        // empty files: a symlink could alias outside the staging dir, and
        // the reference archives contain only plain files/dirs
        require(!e.isSymbolicLink && !e.isLink && (e.isDirectory || e.isFile),
          s"unsupported tar entry type (link/device): ${e.getName}")
        if (e.isDirectory) out.mkdirs()
        else {
          out.getParentFile.mkdirs()
          val os = new FileOutputStream(out)
          try in.transferTo(os) finally os.close()
        }
        e = in.getNextEntry
      }
      ok = true
    } finally {
      in.close()
      if (!ok) deleteRecursively(staging) // failed extract leaves nothing
    }
    // atomic publish: the final path only ever appears via the rename; on
    // rename failure the staging dir never outlives the call (either a
    // concurrent extract won the race — harmless — or we raise)
    if (!staging.renameTo(dest)) {
      deleteRecursively(staging)
      if (!dest.exists())
        throw new IllegalStateException(s"could not publish $dest")
    }
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** `Path(extract_dir).rglob("*.db")`. */
  def sqliteFiles(dir: File): Seq[File] = {
    val here = Option(dir.listFiles()).getOrElse(Array.empty[File])
    here.filter(f => f.isFile && f.getName.endsWith(".db")).toSeq ++
      here.filter(_.isDirectory).flatMap(sqliteFiles)
  }

  /** The restored fact's schema — [[graft.sources.WideSnapshot]]'s 70
    * columns: 5 key/time + 65 doubles. */
  val snapshotSchema: StructType = StructType(
    Seq(
      StructField("ts", LongType),
      StructField("symbol", StringType),
      StructField("exchange_id", ShortType),
      StructField("inst_type", ByteType),
      StructField("dt", TimestampType)) ++
      graft.sources.WideSnapshot.doubleCols.map(c =>
        StructField(c, DoubleType)))

  /** SQLite's dynamic value → the schema's static type. SQLite stores what
    * it was given (python datetimes arrive as TEXT, ints as INTEGER even in
    * REAL columns), so coercion is per-target-type, not per-storage-class. */
  private def coerce(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (l: java.lang.Long, LongType) => l
    case (l: java.lang.Long, IntegerType) => java.lang.Integer.valueOf(l.toInt)
    case (l: java.lang.Long, ShortType) => java.lang.Short.valueOf(l.toShort)
    case (l: java.lang.Long, ByteType) => java.lang.Byte.valueOf(l.toByte)
    case (l: java.lang.Long, DoubleType) =>
      java.lang.Double.valueOf(l.toDouble)
    case (d: java.lang.Double, DoubleType) => d
    case (s: String, StringType) => s
    case (s: String, TimestampType) =>
      // python sqlite3 writes datetimes as "YYYY-MM-DD HH:MM:SS[.ffffff]";
      // interpret as UTC wall time (the archive's convention)
      java.sql.Timestamp.from(java.time.LocalDateTime.parse(
        s.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC))
    case (b: Array[Byte], BinaryType) => b
    case (x, t) => throw new IllegalArgumentException(
      s"cannot coerce ${x.getClass.getSimpleName} to $t")
  }

  /** Read `table` from every .db file as one DataFrame: the file list is
    * parallelized so each archive is one executor task; columns are matched
    * BY NAME against `schema` (extra sqlite columns dropped, missing ones
    * null). */
  def readSqlite(spark: SparkSession, dbFiles: Seq[File], table: String,
      schema: StructType = snapshotSchema): DataFrame = {
    val paths = dbFiles.map(_.getAbsolutePath)
    val fields = schema.fields
    val rows = spark.sparkContext
      .parallelize(paths, math.max(1, paths.length))
      .flatMap { p =>
        val (cols, data) = SQLiteReader.readTable(new File(p), table)
        val idx = fields.map(f => cols.indexOf(f.name))
        data.iterator.map { vals =>
          Row.fromSeq(fields.zip(idx).map { case (f, i) =>
            if (i < 0) null else coerce(vals(i), f.dataType)
          }.toIndexedSeq)
        }
      }
    spark.createDataFrame(rows, schema)
  }

  /** The reference's full per-hour restore: verify → extract → locate →
    * range-read → repair-merge for deficient hours only. Returns the
    * restored-and-filtered frame (what the reference stream-loads). A
    * `dt_date`-partitioned sink gets the slice with that column derived
    * from `dt` ([[SyncKlines.withDay]]), so it stays partitioned. */
  def restoreHour(spark: SparkSession, tar: File, sidecar: File,
      workDir: File, sinkPath: String, symbol: String, exchangeId: Int,
      instType: Int, hourStartMs: Long): DataFrame = {
    verifyArchive(tar, sidecar)
    val extractDir = new File(workDir,
      tar.getName.stripSuffix(".tar.gz"))
    extractTarGz(tar, extractDir)
    val dbs = sqliteFiles(extractDir)
    require(dbs.nonEmpty, s"No sqlite file found under $extractDir")
    val hourEnd = hourStartMs + 3600000L
    // range-read on dt like the reference (restore_market_snapshot_from_s3:
    // `dt >= hour_start AND dt < hour_end` over the TEXT column): rows whose
    // ts and dt disagree must restore exactly as the reference would. The
    // archive's "YYYY-MM-DD HH:MM:SS" text order equals chronological order,
    // so the timestamp comparison is the faithful translation.
    val slice = readSqlite(spark, dbs, "market_snapshot")
      .where(col("symbol") === symbol &&
        col("exchange_id") === exchangeId &&
        col("inst_type") === instType &&
        col("dt") >= timestamp_millis(lit(hourStartMs)) &&
        col("dt") < timestamp_millis(lit(hourEnd)))
    // a sink laid out like the kline tables takes the slice in that layout
    val layout = graft.sinks.UpsertSink.partitionColumn(spark, sinkPath)
    graft.sinks.UpsertSink.upsert(spark, sinkPath,
      if (layout.contains("dt_date")) SyncKlines.withDay(slice) else slice,
      Seq("symbol", "exchange_id", "inst_type", "ts"), "ts")
    slice
  }
}
