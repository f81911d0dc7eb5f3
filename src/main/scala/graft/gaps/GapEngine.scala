package graft.gaps

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
  * The reference runs W1 once **per symbol** (a SQL round-trip per key).
  * Here [[gapPlan]] covers every key with one shuffle: the sink's rows and
  * the active keys are hash-partitioned by key and sorted, and one scan per
  * key emits W1 ∪ W2 → W3. The run's bounds (`startMs`, `endMs`, `ivlMs`,
  * `mergeWithinMs`) are values in the scan's closure, not literals in the
  * plan, so every pass of an incremental sync runs the same generated code
  * and hits Spark's codegen cache. No driver-side loops, no per-key
  * queries. [[interiorGaps]], [[boundaryGaps]] and [[mergeRanges]] are the
  * same steps as separate windowed transforms (the W1/W2/W3 queries).
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

  /** Full pipeline W1 ∪ W2 → W3, equal to
    * `mergeRanges(interiorGaps ∪ boundaryGaps)` over the rows of `df` in
    * `[startMs, endMs]`. One shuffle: `df`'s `(keys, ts)` rows and
    * `allKeys` as marker rows (null ts) are partitioned by key and sorted,
    * then one scan per key turns its rows into its merged gaps. */
  def gapPlan(df: DataFrame, allKeys: DataFrame, keys: Seq[String],
      tsCol: String, ivlMs: Long, startMs: Long, endMs: Long,
      mergeWithinMs: Long): DataFrame = {
    val keyCols = keys.map(col)
    val rows = df.select(keyCols :+ col(tsCol).cast(LongType).as("_ts") :+
        lit(false).as("_active"): _*)
      .unionByName(allKeys.select(keyCols :+
        lit(null).cast(LongType).as("_ts") :+ lit(true).as("_active"): _*))
      .repartition(keyCols: _*)
      .sortWithinPartitions(keyCols :+ col("_ts"): _*)
    val n = keys.length
    val out = StructType(rows.schema.fields.take(n) ++
      Seq(StructField("gap_start", LongType), StructField("gap_end", LongType)))
    rows.mapPartitions { it =>
      val in = it.buffered
      Iterator.continually(in).takeWhile(_.hasNext).flatMap { _ =>
        val key = in.head
        // this key's rows; scanKey drains them before the next key is read
        val run = Iterator.continually(in)
          .takeWhile(i => i.hasNext && sameKey(i.head, key, n)).map(_.next())
        scanKey(key, run, n, ivlMs, startMs, endMs, mergeWithinMs)
          .map { case (s, e) => Row.fromSeq((0 until n).map(key.get) :+ s :+ e) }
      }
    }(Encoders.row(out))
  }

  private def sameKey(a: Row, b: Row, n: Int): Boolean =
    (0 until n).forall(i => java.util.Objects.deepEquals(a.get(i), b.get(i)))

  /** One key's rows, sorted by ts with marker rows first → its merged gaps.
    * Row layout: keys (`n` fields), ts (null on a marker), active flag. */
  private def scanKey(key: Row, run: Iterator[Row], n: Int, ivlMs: Long,
      startMs: Long, endMs: Long, mergeWithinMs: Long): Iterator[(Long, Long)] = {
    val gaps = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var active = false
    var seen = false
    var first = 0L
    var last = 0L
    run.foreach { r =>
      if (r.getBoolean(n + 1)) active = true
      else if (!r.isNullAt(n)) {
        val ts = r.getLong(n)
        if (ts >= startMs && ts <= endMs) {
          // W1: LAG over the in-range rows
          if (!seen) { first = ts; seen = true }
          else if (ts - last > ivlMs) gaps += ((last + ivlMs, ts - ivlMs))
          last = ts
        }
      }
    }
    if (active) {
      // W2: a NULL key part never joins the sink's extents, so such a key
      // gets the whole range, as the equi-join in boundaryGaps gives it
      val extent = seen && !(0 until n).exists(key.isNullAt)
      val head = (startMs, if (extent) first - ivlMs else endMs)
      if ((!extent || first > startMs) && head._1 <= head._2) gaps += head
      if (extent && last < endMs && last + ivlMs <= endMs)
        gaps += ((last + ivlMs, endMs))
    }
    // W3: a gap opens an island when it starts ≥ mergeWithinMs past the
    // largest end before it
    val islands = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var maxEnd = Long.MinValue
    gaps.sorted.foreach { case (s, e) =>
      if (islands.isEmpty || s - maxEnd >= mergeWithinMs) islands += ((s, e))
      else islands(islands.length - 1) =
        (islands.last._1, math.max(islands.last._2, e))
      maxEnd = math.max(maxEnd, e)
    }
    islands.iterator
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
