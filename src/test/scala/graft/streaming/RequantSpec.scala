package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SaveMode

import graft.SparkSpec
import graft.operators.Similarity

/** W21 quantizer-refresh lifecycle — hand-computed 2-D geometry for the
  * refresh arithmetic, the rebuild's re-assignment/tag preservation, and
  * crash replay ACROSS the epoch boundary (the r15 verdict item-1 "replay
  * spec across the boundary" clause). Centroids: c0=(1,0), c1=(0,1),
  * c2=(-1,0) — the VecStreamSpec frame. */
class RequantSpec extends SparkSpec {
  import spark.implicits._

  private val cents: Array[(Long, Array[Double])] = Array(
    0L -> Array(1.0, 0.0), 1L -> Array(0.0, 1.0), 2L -> Array(-1.0, 0.0))

  test("refreshQuantizer: exact per-cell decimal means, rounded 6dp; an " +
      "empty cell carries the previous centroid") {
    val idx = Files.createTempDirectory("requantref").resolve("idx").toString
    // cell 0 holds (1, 0.2) and (1, -0.2) — the mean is EXACTLY (1, 0):
    // the float halves are symmetric, so any summation order agrees;
    // cell 1 holds (0.1, 1) alone; cell 2 stays empty
    Similarity.writeVecIndex(Seq(
        0L -> Array(1.0f, 0.2f), 1L -> Array(1.0f, -0.2f),
        2L -> Array(0.1f, 1.0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, cents, tag = -1L, SaveMode.Overwrite)
    val got = Similarity.refreshQuantizer(spark, idx, cents, dim = 2)
    assert(got.map(_._1).toList == List(0L, 1L, 2L))
    assert(got(0)._2.toList == List(1.0, 0.0))
    assert(got(1)._2.toList == List(0.1, 1.0)) // 0.1f rounds to 0.1 at 6dp
    assert(got(2)._2.toList == List(-1.0, 0.0)) // carried: no stored rows
  }

  test("refreshQuantizer is deterministic across runs (decimal sums — " +
      "partial-aggregation order cannot perturb the model)") {
    val idx = Files.createTempDirectory("requantdet").resolve("idx").toString
    val rnd = new java.util.Random(11)
    val rows = (0L until 64L).map(id => id ->
      Array(rnd.nextFloat() * 2 - 1, rnd.nextFloat() * 2 - 1))
    Similarity.writeVecIndex(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, cents, tag = -1L, SaveMode.Overwrite)
    val a = Similarity.refreshQuantizer(spark, idx, cents, dim = 2)
    val b = Similarity.refreshQuantizer(spark, idx, cents, dim = 2)
    assert(a.map(_._2.toList).toList == b.map(_._2.toList).toList)
    // and the refresh actually moved the model off its init
    assert(a.map(_._2.toList).toList != cents.map(_._2.toList).toList)
  }

  test("rebuildVecIndex: same membership, same batch_id tags, same nrm; " +
      "cells re-assigned under the NEW model and re-laid on disk") {
    val base = Files.createTempDirectory("requantrb")
    val oldIdx = base.resolve("old").toString
    val newIdx = base.resolve("new").toString
    // base build (tag -1): 6=(-1,0.1) in cell 2; a streamed append
    // (tag 3): 5=(0.6,0.8), which sits in cell 1 under the OLD model
    // (cos 0.8 vs 0.6)...
    Similarity.writeVecIndex(
      Seq(6L -> Array(-1.0f, 0.1f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", oldIdx, cents, tag = -1L, SaveMode.Overwrite)
    Similarity.writeVecIndex(
      Seq(5L -> Array(0.6f, 0.8f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", oldIdx, cents, tag = 3L, SaveMode.Append)
    // ...and moves to cell 0 under a refreshed model whose c0 rotated to
    // (0.7, 0.7): cos(v, c0') ≈ 0.9899 > 0.8
    val cents1: Array[(Long, Array[Double])] = Array(
      0L -> Array(0.7, 0.7), 1L -> Array(0.0, 1.0), 2L -> Array(-1.0, 0.0))
    Similarity.rebuildVecIndex(spark, oldIdx, newIdx, cents1)
    val got = spark.read.parquet(s"$newIdx/vecs")
      .select($"id", $"batch_id", $"cell".cast("long"), $"nrm")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(got.map(t => (t._1, t._2, t._3)) ==
      List((5L, 3L, 0L), (6L, -1L, 2L)))
    // the new layout is partition-laid under the new cells
    assert(Files.isDirectory(
      java.nio.file.Paths.get(newIdx).resolve("vecs").resolve("cell=0")))
    // nrm carried exactly (pure function of v — no recompute drift)
    val nrm5 = got.find(_._1 == 5L).get._4
    assert(math.abs(nrm5 - math.sqrt(0.6f.toDouble * 0.6f.toDouble +
      0.8f.toDouble * 0.8f.toDouble)) < 1e-12)
  }

  test("a NULL-tagged index row survives the refresh and the rebuild") {
    val base = Files.createTempDirectory("requantnull")
    val idx = base.resolve("idx").toString
    Similarity.writeVecIndex(Seq(0L -> Array(1.0f, 0.2f),
        1L -> Array(1.0f, -0.2f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx, cents, tag = -1L, SaveMode.Overwrite)
    // a copy of row 0 whose tag is NULL, in the same cell
    spark.read.parquet(s"$idx/vecs").where($"id" === 0L)
      .withColumn("id", org.apache.spark.sql.functions.lit(9L))
      .withColumn("batch_id", org.apache.spark.sql.functions.lit(null).cast("long"))
      .write.mode(SaveMode.Append).partitionBy("cell").parquet(s"$idx/vecs")
    val got = Similarity.refreshQuantizer(spark, idx, cents, dim = 2)
    // cell 0 averages all three rows: (1, 0.2), (1, -0.2), (1, 0.2)
    assert(got(0)._2.toList == List(1.0, 0.066667))
    val next = base.resolve("next").toString
    Similarity.rebuildVecIndex(spark, idx, next, got)
    val ids = spark.read.parquet(s"$next/vecs").select($"id", $"batch_id")
      .as[(Long, Option[Long])].collect().sortBy(_._1).toList
    assert(ids == List((0L, Some(-1L)), (1L, Some(-1L)), (9L, None)))
  }

  test("an epoch-0 batch replayed BEFORE the refresh does not " +
      "double-weight the refreshed model, and the rebuild does not carry " +
      "the duplicate rows into the new epoch's index") {
    val base = Files.createTempDirectory("requantpre")
    val idxA = base.resolve("idx_clean").toString
    val idxB = base.resolve("idx_replayed").toString
    val mk = Seq(100L -> Array(1.0f, 0.0f)).toDF("vec_id", "embedding")
    Similarity.writeVecIndex(mk, "vec_id", "embedding", idxA, cents,
      tag = -1L, SaveMode.Overwrite)
    Similarity.writeVecIndex(mk, "vec_id", "embedding", idxB, cents,
      tag = -1L, SaveMode.Overwrite)
    // batch 0 admits 1=(0.1,1) into cell 1; on idxB the batch crash-replays
    // (applied twice), appending byte-equal duplicate index rows
    val b0 = Seq(1L -> Array(0.1f, 1.0f)).toDF("vec_id", "embedding")
    Similarity.admitVecBatch(b0, 0L, "vec_id", "embedding", idxA,
      base.resolve("sinkA").toString, cents, 2, 0.9, epoch = 0L)
    Similarity.admitVecBatch(b0, 0L, "vec_id", "embedding", idxB,
      base.resolve("sinkB").toString, cents, 2, 0.9, epoch = 0L)
    Similarity.admitVecBatch(b0, 0L, "vec_id", "embedding", idxB,
      base.resolve("sinkB").toString, cents, 2, 0.9, epoch = 0L)
    // the duplicate rows exist on disk (the replay appended byte-equal
    // rows) — the refresh must collapse them, not average over them
    assert(spark.read.parquet(s"$idxB/vecs").where($"id" === 1L).count()
      >= 2L)
    val refA = Similarity.refreshQuantizer(spark, idxA, cents, dim = 2)
    val refB = Similarity.refreshQuantizer(spark, idxB, cents, dim = 2)
    assert(refA.map(t => (t._1, t._2.toList)).toList ==
      refB.map(t => (t._1, t._2.toList)).toList)
    // and the rebuild writes each id exactly once into the new epoch root
    val idxB1 = base.resolve("idx_replayed_e1").toString
    Similarity.rebuildVecIndex(spark, idxB, idxB1, refB)
    val perId = spark.read.parquet(s"$idxB1/vecs")
      .groupBy($"id").count().as[(Long, Long)].collect().toMap
    assert(perId == Map(100L -> 1L, 1L -> 1L))
  }

  test("cross-boundary crash replay: an epoch-1 batch applied twice " +
      "after refresh+rebuild lands in the identical end state") {
    val base = Files.createTempDirectory("requantreplay")
    val idx0 = base.resolve("idx_e0").toString
    val sink0 = base.resolve("sink_e0").toString
    val idx1 = base.resolve("idx_e1").toString
    val sink1 = base.resolve("sink_e1").toString
    // base: 100=(1,0) in cell 0
    Similarity.writeVecIndex(
      Seq(100L -> Array(1.0f, 0.0f)).toDF("vec_id", "embedding"),
      "vec_id", "embedding", idx0, cents, tag = -1L, SaveMode.Overwrite)
    // epoch 0, batch 0: 1=(0.1,1) fresh in cell 1 — admitted;
    // epoch 0, batch 1: 3=(0.11,1) dups ADMITTED 1 (cos ≈ 0.99995) — out
    Similarity.admitVecBatch(
      Seq(1L -> Array(0.1f, 1.0f)).toDF("vec_id", "embedding"),
      0L, "vec_id", "embedding", idx0, sink0, cents, 2, 0.9, epoch = 0L)
    Similarity.admitVecBatch(
      Seq(3L -> Array(0.11f, 1.0f)).toDF("vec_id", "embedding"),
      1L, "vec_id", "embedding", idx0, sink0, cents, 2, 0.9, epoch = 0L)
    assert(spark.read.parquet(sink0).select($"vec_id").distinct()
      .as[Long].collect().toList == List(1L))
    // boundary: refresh off the stored assignments, rebuild the layout
    val cents1 = Similarity.refreshQuantizer(spark, idx0, cents, dim = 2)
    Similarity.rebuildVecIndex(spark, idx0, idx1, cents1)
    // epoch 1, batch 0 (tag restarts at 0 in the NEW namespace), applied
    // TWICE — the crash-replay shape across the boundary: 5=(-1,0.05) is
    // fresh; 7=(0.1,1.02) dups index member 1 under the REFRESHED model
    val b = Seq(5L -> Array(-1.0f, 0.05f), 7L -> Array(0.1f, 1.02f))
      .toDF("vec_id", "embedding")
    Similarity.admitVecBatch(b, 0L, "vec_id", "embedding", idx1, sink1,
      cents1, 2, 0.9, epoch = 1L)
    Similarity.admitVecBatch(b, 0L, "vec_id", "embedding", idx1, sink1,
      cents1, 2, 0.9, epoch = 1L)
    assert(spark.read.parquet(sink1).distinct()
      .select($"vec_id", $"batch").as[(Long, Long)]
      .collect().sortBy(_._1).toList == List((5L, 0L)))
    // index state: base + epoch-0 admit (tags preserved through the
    // rebuild) + epoch-1 admit under its epoch-namespaced tag
    val idxState = spark.read.parquet(s"$idx1/vecs")
      .select($"id", $"batch_id").distinct()
      .as[(Long, Long)].collect().sortBy(_._1).toList
    assert(idxState == List((1L, 0L), (5L, 1000000L), (100L, -1L)))
  }
}
