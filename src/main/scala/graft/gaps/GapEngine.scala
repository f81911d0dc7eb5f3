package graft.gaps

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The gap-fill engine — the reference's signature query family, restated as
  * set-oriented DataFrame transforms.
  *
  * Reference semantics (all in `src/exchanges/_base_.py`):
  *  - W1 `:178-198` — `LAG(dt) OVER (ORDER BY dt)` within one symbol's rows;
  *    keep pairs with `curr - prev > interval` → interior missing ranges.
  *  - W2 `:200-222` — head gap `(start, first-ivl)`, tail gap
  *    `(last+ivl, end)`, whole-range gap when the key has no rows at all.
  *  - W3 `:227-245` — coalesce adjacent gaps closer than `limit*interval` to
  *    cut fetch calls (classic gap-and-islands).
  *
  * The reference runs W1 once **per symbol** (a SQL round-trip per key); here
  * one windowed job covers every key: `Window.partitionBy(keys)` shuffles each
  * key's rows to one task, so the plan is a single exchange + sort per stage
  * and scales with executors. At 100 TB the only shuffle is by key — no
  * driver-side loops, no per-key queries.
  */
object GapEngine {

  /** W1: interior gaps. Input must have `keys` + an epoch-ms `tsCol`.
    * Output: keys + `gap_start`, `gap_end` (inclusive grid endpoints). */
  def interiorGaps(df: DataFrame, keys: Seq[String], tsCol: String,
      ivlMs: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(tsCol))
    df.select(keys.map(col) :+ col(tsCol): _*)
      .withColumn("prev_ts", lag(col(tsCol), 1).over(w))
      .where(col("prev_ts").isNotNull &&
        col(tsCol) - col("prev_ts") > ivlMs)
      .select(keys.map(col) :+
        (col("prev_ts") + ivlMs).as("gap_start") :+
        (col(tsCol) - ivlMs).as("gap_end"): _*)
  }

  /** W2: boundary gaps against a requested `[startMs, endMs]` range.
    * `allKeys` is the key universe (e.g. the active-symbol dim): keys present
    * there but absent from `df` yield the whole-range gap — the reference's
    * "table empty" branch (`_base_.py:216-222`). */
  def boundaryGaps(df: DataFrame, allKeys: DataFrame, keys: Seq[String],
      tsCol: String, ivlMs: Long, startMs: Long, endMs: Long): DataFrame = {
    val extents = df.groupBy(keys.map(col): _*)
      .agg(min(tsCol).as("first_ts"), max(tsCol).as("last_ts"))
    val joined = allKeys.select(keys.map(col): _*).distinct()
      .join(extents, keys, "left_outer")
    val head = joined
      .where(col("first_ts").isNull || col("first_ts") > startMs)
      .select(keys.map(col) :+
        lit(startMs).as("gap_start") :+
        coalesce(col("first_ts") - ivlMs, lit(endMs)).as("gap_end"): _*)
    val tail = joined
      .where(col("last_ts").isNotNull && col("last_ts") < endMs)
      .select(keys.map(col) :+
        (col("last_ts") + ivlMs).as("gap_start") :+
        lit(endMs).as("gap_end"): _*)
    head.unionByName(tail).where(col("gap_start") <= col("gap_end"))
  }

  /** W3: merge gaps whose inter-gap distance is ≤ `mergeWithinMs`
    * (reference merges when `next_start - cur_end < limit*interval_ms`,
    * `_base_.py:238`). Gap-and-islands: flag starts that open a new island,
    * running-sum the flags for an island id, then min/max per island. */
  def mergeRanges(gaps: DataFrame, keys: Seq[String],
      mergeWithinMs: Long): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("gap_start"), col("gap_end"))
    val flagged = gaps
      .withColumn("prev_end",
        max(col("gap_end")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        when(col("prev_end").isNull ||
          col("gap_start") - col("prev_end") >= mergeWithinMs, 1).otherwise(0))
      .withColumn("island",
        sum(col("new_island")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
    flagged.groupBy((keys.map(col) :+ col("island")): _*)
      .agg(min("gap_start").as("gap_start"), max("gap_end").as("gap_end"))
      .drop("island")
  }

  /** Full pipeline: W1 ∪ W2 → W3. One job for every key. */
  def gapPlan(df: DataFrame, allKeys: DataFrame, keys: Seq[String],
      tsCol: String, ivlMs: Long, startMs: Long, endMs: Long,
      mergeWithinMs: Long): DataFrame = {
    val inRange = df.where(col(tsCol).between(startMs, endMs))
    val interior = interiorGaps(inRange, keys, tsCol, ivlMs)
    val boundary = boundaryGaps(inRange, allKeys, keys, tsCol, ivlMs,
      startMs, endMs)
    mergeRanges(interior.unionByName(boundary), keys, mergeWithinMs)
  }

  /** Expand merged gap ranges into paginated fetch windows of
    * `limit × ivlMs` span — the reference's cursor loop (`_base_.py:260-288`)
    * as a generator: `explode(sequence(start, end, step))`. Each output row is
    * one REST request the source adapter would execute. */
  def fetchWindows(gaps: DataFrame, keys: Seq[String], ivlMs: Long,
      limit: Int): DataFrame = {
    val step = ivlMs * limit
    gaps.select(keys.map(col) :+ col("gap_start") :+ col("gap_end") :+
      explode(sequence(col("gap_start"), col("gap_end"), lit(step)))
        .as("req_start"): _*)
      .select(keys.map(col) :+ col("req_start") :+
        least(col("req_start") + step - ivlMs, col("gap_end"))
          .as("req_end"): _*)
  }
}
