package graft.flows

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sinks.UpsertSink
import graft.time.Align

/** `check_market_snapshot_integrity` (SURVEY §3.3; reference
  * `system_utils/check_market_snapshot_integrity.py:45-115`): the reference
  * runs days×symbols×24 separate COUNT round-trips; here ONE shuffle
  * classifies every (key, hour) cell, and repair is a keyed merge from the
  * restored archive (S7 `restore_market_snapshot_from_s3.py:104-191` —
  * the tar.gz/sha256/SQLite machinery collapses to reading a restored
  * parquet + digest verification + MERGE).
  */
object CheckIntegrity {

  /** Classify each (keys..., hour) cell of `facts` against the full expected
    * calendar: EMPTY (no rows), PARTIAL (< expectedPerHour), OK. */
  def hourlyStatus(facts: DataFrame, keys: DataFrame, keyCols: Seq[String],
      tsCol: String, startMs: Long, endMs: Long,
      expectedPerHour: Long): DataFrame = {
    import facts.sparkSession.implicits._
    val HourMs = 3600000L
    // the bounds are a closure value and local rows, not literals Spark
    // would write into generated code, so a read-back one hour on reuses
    // the same compiled classes (as the range filter of SyncKlines.run)
    val inRange = udf((ts: Long) => ts >= startMs && ts < endMs)
    val counts = facts
      .where(inRange(col(tsCol)))
      .groupBy((keyCols.map(col) :+
        Align.floorTo(col(tsCol), HourMs).as("hour_ms")): _*)
      .agg(count(lit(1)).as("n"))
    val hours = (startMs to endMs - HourMs by HourMs).toDF("hour_ms")
    keys.select(keyCols.map(col): _*).distinct()
      .crossJoin(hours)
      .join(counts, keyCols :+ "hour_ms", "left_outer")
      .select((keyCols.map(col) :+ col("hour_ms") :+
        coalesce(col("n"), lit(0L)).as("n")): _*)
      .withColumn("status",
        when(col("n") === 0, "EMPTY")
          .when(col("n") < expectedPerHour, "PARTIAL")
          .otherwise("OK"))
  }

  /** Deficient cells = the repair work list. */
  def deficientHours(status: DataFrame): DataFrame =
    status.where(col("status") =!= "OK")

  /** S7 repair: verify the restored archive's digest column against its
    * payload (sha256 hex, matching
    * `restore_market_snapshot_from_s3.py:37-42,134-137` — the reference
    * aborts the restore on a digest mismatch), then merge rows for deficient
    * hours only. Rows whose recomputed `sha2(payload, 256)` differs from the
    * recorded digest NEVER reach the sink; they are returned for reporting
    * (`payloadCol`/`digestCol` unset ⇒ no verification, empty reject frame —
    * for archives that carry no digest column). Digest comparison is
    * case-insensitive on the recorded side (hex casing varies by producer).
    */
  def repairFromArchive(spark: SparkSession, sinkPath: String,
      archive: DataFrame, deficient: DataFrame, keyCols: Seq[String],
      tsCol: String, payloadCol: Option[String] = None,
      digestCol: Option[String] = None): DataFrame = {
    val HourMs = 3600000L
    val (verified, rejected) = (payloadCol, digestCol) match {
      case (Some(pl), Some(dg)) =>
        val ok = sha2(col(pl).cast("binary"), 256) === lower(col(dg))
        (archive.where(ok), archive.where(!ok || col(dg).isNull))
      case _ => (archive, archive.limit(0))
    }
    val needed = verified
      .withColumn("hour_ms", Align.floorTo(col(tsCol), HourMs))
      .join(broadcast(deficient.select(
        (keyCols.map(col) :+ col("hour_ms")): _*)),
        keyCols :+ "hour_ms", "left_semi")
      .drop("hour_ms")
    UpsertSink.upsert(spark, sinkPath, needed, keyCols :+ tsCol, tsCol)
    rejected
  }
}
