package bench

import scala.collection.mutable.ArrayBuffer

import graft.queries.Queries

/** `analytics_mix`: the read-only plane. One client runs passes over a
  * fixed query mix in a seed-shuffled order, one query at a time (closed
  * loop), and executes every result in full by collecting it: unlike
  * `count()`, a collect gives the optimizer no licence to prune columns or
  * whole subtrees. Each result's order-insensitive hash goes into the run
  * record; `run.py` compares it with `expected_hashes.json`. */
final class AnalyticsMix(ctx: Ctx) extends Workload {
  import AnalyticsMix._

  private val rng = new scala.util.Random(ctx.seed)

  /** Run one query to completion: (seconds, rows, result hash). Only the
    * execution is timed; hashing the collected rows is not. */
  private def execute(name: String): (Double, Long, String) = {
    val t0 = System.nanoTime()
    val (names, rows) = Trace.span(s"queries.$name") {
      val df = byName(name)(ctx.spark, ctx.dataDir)
      (df.columns.toSeq, df.collect())
    }
    val s = (System.nanoTime() - t0) / 1e9
    (s, rows.length.toLong, ResultHash.of(names, rows))
  }

  private def pass(): Seq[Map[String, Any]] =
    rng.shuffle(Mix).map { q =>
      val (s, n, h) = execute(q)
      Map("query" -> q, "plane" -> (if (Market.contains(q)) "market" else "curation"),
        "seconds" -> s, "rows" -> n, "hash" -> h)
    }

  /** One warm-up pass (JIT, whole-stage codegen, each query's staged
    * artifacts, parquet footers). Warm passes cost seconds each, so the
    * warm-up is not repeated; `setup_reps_s` stays empty. */
  def setup(): Map[String, Any] = {
    val (warmS, _) = Main.timed(pass())
    Map("setup_once_s" -> warmS, "setup_reps_s" -> Seq.empty[Double])
  }

  def measure(traced: Boolean): Map[String, Any] = {
    val executions = ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - t0) / 1e9 < ctx.seconds) {
      executions ++= pass().map(_ + ("pass" -> p))
      p += 1
    }
    Map("executions" -> executions.toSeq)
  }
}

object AnalyticsMix {
  val Market: Seq[String] = Seq("q3_shipping_priority", "q18_large_orders",
    "a1_watermark_max", "w1_gap_scan", "w17_ohlcv_candles",
    "sn1_snapshot_hourly")
  val Curation: Seq[String] = Seq("d1_exact_dedup", "d2_jaccard_pairs",
    "t11_top_ngrams")
  val Mix: Seq[String] = Market ++ Curation

  private lazy val byName = Queries.all.toMap
}
