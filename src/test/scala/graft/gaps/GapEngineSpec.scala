package graft.gaps

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class GapEngineSpec extends SparkSpec {
  import spark.implicits._

  private val Ivl = 100L // toy grid

  private def present(rows: Seq[(String, Long)]): DataFrame =
    rows.toDF("k", "ts")

  test("interiorGaps finds exactly the holes") {
    val df = present(Seq("a" -> 0L, "a" -> 100L, "a" -> 400L, "a" -> 500L,
      "b" -> 0L, "b" -> 100L))
    val gaps = GapEngine.interiorGaps(df, Seq("k"), "ts", Ivl)
      .as[(String, Long, Long)].collect().toSet
    assert(gaps == Set(("a", 200L, 300L)))
  }

  test("boundaryGaps covers head, tail, and empty keys") {
    val df = present(Seq("a" -> 200L, "a" -> 300L))
    val keys = Seq("a", "zzz").toDF("k")
    val gaps = GapEngine.boundaryGaps(df, keys, Seq("k"), "ts", Ivl, 0L, 500L)
      .as[(String, Long, Long)].collect().toSet
    assert(gaps == Set(
      ("a", 0L, 100L),      // head
      ("a", 400L, 500L),    // tail
      ("zzz", 0L, 500L)))   // whole range for absent key
  }

  test("mergeRanges coalesces close gaps") {
    val gaps = Seq(("a", 0L, 100L), ("a", 300L, 400L), ("a", 2000L, 2100L))
      .toDF("k", "gap_start", "gap_end")
    val merged = GapEngine.mergeRanges(gaps, Seq("k"), 500L)
      .as[(String, Long, Long)].collect().toSet
    assert(merged == Set(("a", 0L, 400L), ("a", 2000L, 2100L)))
  }

  test("property: filling reported gaps closes the scan (backfill closure)") {
    val rnd = new scala.util.Random(7)
    val cases: Seq[List[Long]] = Seq.fill(12)(
      List.fill(rnd.nextInt(20))(rnd.nextLong(41L) * Ivl).distinct) :+
      List.empty[Long] :+ 0L.to(4000L, Ivl).toList
    cases.foreach { pts =>
      val start = 0L
      val end = 4000L
      val df = present(pts.map("k" -> _))
      val keys = Seq("k").toDF("k")
      val plan = GapEngine.gapPlan(df, keys, Seq("k"), "ts", Ivl,
        start, end, Ivl) // merge adjacent
      val gaps = plan.as[(String, Long, Long)].collect()
      // expand gaps onto the grid and union with the present points
      val filled = gaps.flatMap { case (_, s, e) => s.to(e, Ivl) } ++ pts
      val refilled = present(filled.distinct.map("k" -> _))
      val after = GapEngine.gapPlan(refilled, keys, Seq("k"), "ts", Ivl,
        start, end, Ivl).count()
      assert(after == 0, s"pts=$pts gaps=${gaps.mkString(",")}")
      // gaps cover exactly the missing grid points
      val covered = filled.distinct.sorted.toList
      assert(covered == start.to(end, Ivl).toList.sorted, s"pts=$pts")
    }
  }

  test("property: merged gaps are disjoint, ordered, within span") {
    val rnd = new scala.util.Random(11)
    val cases: Seq[List[(Long, Long)]] = Seq.fill(12)(
      List.fill(rnd.nextInt(15)) {
        val s = rnd.nextLong(51L)
        val len = rnd.nextLong(6L)
        (s * Ivl, (s + len) * Ivl)
      })
    cases.foreach { ranges =>
      val gaps = ranges.map { case (s, e) => ("k", s, e) }
        .toDF("k", "gap_start", "gap_end")
      val merged = GapEngine.mergeRanges(gaps, Seq("k"), 2 * Ivl)
        .as[(String, Long, Long)].collect().sortBy(_._2)
      // pairwise disjoint with at least mergeWithin separation
      merged.sliding(2).foreach {
        case Array((_, _, e1), (_, s2, _)) => assert(s2 - e1 >= 2 * Ivl)
        case _ =>
      }
      if (ranges.nonEmpty) {
        assert(merged.head._2 == ranges.map(_._1).min)
        assert(merged.map(_._3).max == ranges.map(_._2).max)
      }
    }
  }

  test("property: the scan-based gapPlan = mergeRanges(interiorGaps ∪ boundaryGaps)") {
    import org.scalacheck.{Gen, Prop}
    // sink keys a-d, active keys from b-e: "e" is absent from the sink and
    // "a" is not active; ts spans past both bounds, a few off the grid
    val genTs = for {
      slot <- Gen.choose(-5L, 45L)
      off <- Gen.frequency(9 -> 0L, 1 -> 37L)
    } yield slot * Ivl + off
    val genRows = Gen.listOf(Gen.zip(Gen.oneOf("a", "b", "c", "d"), genTs))
      .map(rs => rs ++ rs.take(1)) // a duplicate ts
    val genCase = for {
      rows <- genRows
      active <- Gen.someOf("b", "c", "d", "e")
      startSlot <- Gen.choose(0L, 10L)
      span <- Gen.choose(0L, 30L)
      merge <- Gen.oneOf(0L, Ivl, 3 * Ivl)
    } yield (rows, active.toSeq, startSlot * Ivl, (startSlot + span) * Ivl, merge)
    val params = org.scalacheck.Test.Parameters.default
      .withMinSuccessfulTests(12)
      .withInitialSeed(org.scalacheck.rng.Seed(5L))
    val res = org.scalacheck.Test.check(params, Prop.forAll(genCase) {
      case (rows, active, start, end, merge) =>
        val df = present(rows)
        val keys = active.toDF("k")
        val inRange = df.where($"ts".between(start, end))
        val want = GapEngine.mergeRanges(
          GapEngine.interiorGaps(inRange, Seq("k"), "ts", Ivl).unionByName(
            GapEngine.boundaryGaps(inRange, keys, Seq("k"), "ts", Ivl, start, end)),
          Seq("k"), merge)
        def sorted(d: DataFrame) = d.select("k", "gap_start", "gap_end")
          .as[(String, Long, Long)].collect().toList.sorted
        val got = sorted(GapEngine.gapPlan(df, keys, Seq("k"), "ts", Ivl,
          start, end, merge))
        Prop(got == sorted(want)) :| s"got $got want ${sorted(want)}"
    })
    assert(res.passed, res.status.toString)
  }

  test("gapPlan: gaps touching each bound, and an in-range duplicate") {
    val df = present(Seq("a" -> 100L, "a" -> 200L, "a" -> 200L, "a" -> 400L,
      "b" -> 0L, "b" -> 500L, "c" -> 900L))
    val keys = Seq("a", "b", "c").toDF("k")
    val gaps = GapEngine.gapPlan(df, keys, Seq("k"), "ts", Ivl, 0L, 500L, 0L)
      .as[(String, Long, Long)].collect().toList.sorted
    assert(gaps == List(("a", 0L, 0L), ("a", 300L, 300L), ("a", 500L, 500L),
      ("b", 100L, 400L), ("c", 0L, 500L)))
  }

  test("fetchWindows paginates a gap into limit-sized requests") {
    val gaps = Seq(("a", 0L, 950L)).toDF("k", "gap_start", "gap_end")
    val wins = GapEngine.fetchWindows(gaps, Seq("k"), Ivl, 3)
      .select($"k", $"req_start", $"req_end")
      .as[(String, Long, Long)].collect().sortBy(_._2)
    // step = 300; windows [0,200],[300,500],[600,800],[900,950]
    assert(wins.toList == List(("a", 0L, 200L), ("a", 300L, 500L),
      ("a", 600L, 800L), ("a", 900L, 950L)))
  }
}
