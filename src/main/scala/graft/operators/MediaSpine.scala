package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** STREAMING MULTIMODAL ADMISSION — the m-family's streaming plane
  * (r14 verdict item 7): one micro-batch of opaque binary payloads runs
  * the batch multimodal operators incrementally, under the w16/w20
  * admission discipline, against three persistent stores:
  *
  *   1. EXACT-DUP GATE (m2's sha256, stateful): a payload whose sha256
  *      matches the sha STORE (base corpus + every exact-fresh payload
  *      seen before — APPEND-BACK) or a smaller-id batch-mate's sha is
  *      dropped. The store is PREFIX-PARTITIONED on disk (`spp` = first
  *      hex char of the digest, 16 uniform dirs — DocStream's layout),
  *      so the probe reads only the partitions the batch's own digests
  *      land in. Exact-fresh payloads append their (spp, sha, id, tag)
  *      rows REGARDLESS of their later vector fate: byte-identical
  *      content is a duplicate even when its first occurrence lost the
  *      near-dup cut (pipe2's passage-store discipline).
  *   2. NEAR-DUP GATE (m3's features + w20's vector admission,
  *      stateful): exact-fresh payloads get the deterministic 8-dim
  *      byte-lane feature vector ([[Multimodal.stagedFeatures]] — the
  *      decode-stub contract: a real image/audio model swaps in behind
  *      the same `binary → array<double>` signature) and run the IVF
  *      admission rule against the cell-partitioned feature index
  *      ([[Similarity]]'s layout): probe the `nprobe` nearest cells of
  *      the frozen quantizer, reject at round(cosine, 6) >= threshold
  *      vs any indexed candidate in a probed cell or any smaller-id
  *      batch-mate whose rank-1 cell is probed. Admitted features
  *      append back to the index.
  *   3. MANIFEST + FUNNEL DELTAS (m6's census, append-only): admitted
  *      payloads append per-shard manifest deltas (portable-hash shard,
  *      order-independent digest term) plus per-batch funnel counts and
  *      per-doc admit rows — ONE long-format census store, ONE append
  *      job per batch (the pipe16 lesson: per-batch job count is the
  *      streaming tier's real cost, so all three census grains ride one
  *      union plan).
  *
  * Determinism & crash replay (the admitBatch contract): every
  * persistent write is append-only and tagged with the batch's
  * namespaced id; every read of own state excludes rows carrying the
  * CURRENT tag; in-batch rules never recurse through a batch-mate's own
  * fate. A replay after a crash between any subset of the three appends
  * recomputes from the state of its first attempt and appends byte-equal
  * rows, which read-side `distinct()` collapses — so the batch outcome
  * is a pure function of (batch, state-before-batch) and a DuckDB oracle
  * unrolls the rounds from scratch (the w16/w20 proof shape).
  *
  * Scale shape: everything batch-sized broadcasts or collects to
  * driver-local relations (the same footprint the broadcasts pay);
  * the sha store is touched by PARTITION-PRUNED scan only (the batch's
  * own spp dirs — a driver in-list bounded by 16); the feature index by
  * partition-pruned scan of the probed cells (bounded by the quantizer
  * k); the census append is census-grain. Per batch the stores are
  * never fully read — probe I/O is O(store × touched/partitions). */
object MediaSpine {

  /** One micro-batch. `batch` = (idCol, payloadCol binary). `cents` =
    * the frozen feature quantizer (model-sized, computed offline from
    * yesterday's corpus). All census output lands in ONE long-format
    * store at `censusPath` — rows (batch_tag, batch, section, k, cnt,
    * toks, aux). */
  def ingestBatch(batch: DataFrame, batchId: Long, idCol: String,
      payloadCol: String, shaPath: String, vecIdxPath: String,
      censusPath: String, cents: Array[(Long, Array[Double])],
      nprobe: Int, threshold: Double, shards: Long,
      epoch: Long = 0L): Unit = {
    require(epoch >= 0 && batchId >= 0 && batchId < 1000000L,
      s"media-spine tag namespacing requires 0 <= batchId < 1e6 and " +
        s"epoch >= 0 (got epoch=$epoch, batchId=$batchId)")
    val tag = epoch * 1000000L + batchId
    val s = batch.sparkSession
    // persist (NOT localCheckpoint — r15 verdict item 4, the serial-chain
    // shave): meta's plan is a shallow projection over the drop-file scan,
    // so the lineage-analysis tax a checkpoint buys off is ~nothing here,
    // while the checkpoint itself cost one full materialization JOB per
    // batch. The cache instead fills as a side effect of the spp collect
    // below — the first driver-side action this batch needs anyway.
    val meta = batch.select(col(idCol).cast("long").as("id"),
        col(payloadCol).as("payload"),
        sha2(col(payloadCol), 256).as("sha"),
        octet_length(col(payloadCol)).cast("long").as("n_bytes"))
      // "p" guard (DocStream's rule): an all-numeric prefix dir set
      // would make partition discovery infer an INT column
      .withColumn("spp", concat(lit("p"), substring(col("sha"), 1, 1)))
      .persist()
    // 1. exact gate: smaller-id batch-mate wins in-batch; the store
    // probe partition-prunes to the batch's own sha-prefix dirs (driver
    // in-list bounded by the 16-dir layout), excluding own-tag rows
    // (crash replay). This collect is the batch's FIRST action — it
    // fills meta's cache, so every later consumer reads cached rows.
    val batchSpps = meta.select(col("spp")).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val w = Window.partitionBy(col("sha")).orderBy(col("id"))
    val inBatchWinners = meta.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1).drop("_rn")
    // persisted but NOT force-counted: the fill rides the probes
    // collect job below (the batch's next serial action — no
    // concurrent consumer exists before it), saving one fixed job wall
    // per batch; the concurrent appends at the end read a filled cache
    val exactFresh = (if (exists(s, shaPath)) {
      val stored = s.read.parquet(shaPath)
        .where(col("spp").isin(batchSpps: _*) && col("batch_id") =!= tag)
        .select(col("sha"))
      inBatchWinners.join(stored, Seq("sha"), "left_anti")
    } else inBatchWinners).persist()

    // 2. near-dup gate on the deterministic features (w20's rule). The
    // probe rows COLLECT in one job (batch × nprobe rows — broadcast
    // scale: the same rows ship into the index join below either way) and
    // serve every consumer as a LocalRelation: this fuses the old probes
    // localCheckpoint and the separate probed-cell collect — two serial
    // job walls — into one, and its materialization runs the staged
    // feature chain once AND fills exactFresh's cache (the batch's next
    // serial action either way).
    val probesPlan = Similarity.assignCellsRanked(
        Multimodal.stagedFeatures(exactFresh, "id", "payload"),
        cents, "id", "f", "id", "v", nprobe)
      .withColumn("nrm", Similarity.norm(col("v")))
    val probesRows = probesPlan.collect()
    import scala.jdk.CollectionConverters._
    val probes = s.createDataFrame(probesRows.toSeq.asJava,
      probesPlan.schema)
    val probedCells = probesRows
      .map(_.getLong(probesPlan.schema.fieldIndex("cell")))
      .distinct.toSeq.sorted
    val storage = probes.where(col("probe_rank") === 1)
      .select(col("id"), col("v"), col("nrm"), col("cell"))
    // no distinct() on either rejection arm (or their union): they feed
    // a LEFT ANTI join, which is set-semantics on the left regardless of
    // right-side duplicates — each removed distinct was a shuffle stage
    // of tiny data paying a fixed per-stage wall every micro-batch
    val inbRejected = storage.alias("a").join(probes.alias("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .where(round(Similarity.dot(col("a.v"), col("b.v"))
        / (col("a.nrm") * col("b.nrm")), 6) >= threshold)
      .select(col("b.id").as("id"))
    val idxMatched = Similarity.readVecIndexPruned(s, vecIdxPath,
        probedCells, tag)
      .join(broadcast(probes.select(col("id").as("delta_id"),
        col("v").as("dv"), col("nrm").as("dnrm"), col("cell"))),
        Seq("cell"))
      .where(round(Similarity.dot(col("v"), col("dv"))
        / (col("nrm") * col("dnrm")), 6) >= threshold)
      .select(col("delta_id").as("id"))
    // the anti-join COLLECTS (admitted ids — batch-bounded): the admitted
    // set then serves the census joins and both appends as a
    // LocalRelation, replacing the persist + dedicated fill-count job
    val admittedPlan = exactFresh.select(col("id"))
      .join(inbRejected.unionByName(idxMatched), Seq("id"), "left_anti")
    val admitted = s.createDataFrame(
      admittedPlan.collect().toSeq.asJava, admittedPlan.schema)

    // 3. the three appends as CONCURRENT Spark jobs (disjoint outputs,
    // materialized inputs — the admitBatch r15 discipline); replay is
    // idempotent under ANY completed subset (see object doc)
    def censusRow(section: String, k: org.apache.spark.sql.Column,
        cnt: org.apache.spark.sql.Column,
        toks: org.apache.spark.sql.Column,
        aux: org.apache.spark.sql.Column) =
      Seq(lit(tag).as("batch_tag"), lit(batchId).as("batch"),
        lit(section).as("section"), k.cast("string").as("k"),
        cnt.cast("long").as("cnt"), toks.cast("long").as("toks"),
        aux.cast("long").as("aux"))
    def stageAgg(df: DataFrame, stage: String): DataFrame =
      df.agg(count(lit(1)).as("c"), sum(col("n_bytes")).as("t"))
        .select(censusRow("funnel", lit(s"$batchId|$stage"), col("c"),
          coalesce(col("t"), lit(0L)), lit(0L)): _*)
    val admittedMeta = exactFresh.join(admitted, Seq("id"), "left_semi")
    val h = conv(substring(md5(concat(lit("m7shard:"),
      col("id").cast("string"))), 1, 15), 16, 10).cast("long")
    val funnelDelta = stageAgg(meta, "0_arrived")
      .unionByName(stageAgg(exactFresh, "1_exact"))
      .unionByName(stageAgg(admittedMeta, "2_admit"))
    val admitDelta = admittedMeta
      .select(censusRow("admit", col("id"), lit(1L), col("n_bytes"),
        lit(batchId)): _*)
    val shardDelta = admittedMeta.withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(shards)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("c"), sum(col("n_bytes")).as("t"),
        sum(col("h") % 1000000007L).as("hs"))
      .select(censusRow("shard", col("shard"), col("c"), col("t"),
        col("hs")): _*)
    SparkJobs.inParallel(
      () => exactFresh
        .select(col("spp"), col("sha"), col("id"),
          lit(tag).as("batch_id"))
        .repartition(col("spp"))
        .write.mode(SaveMode.Append).partitionBy("spp").parquet(shaPath),
      () => storage.join(admitted, Seq("id"), "left_semi")
        .select(col("id"), col("v"), col("nrm"), lit(tag).as("batch_id"),
          col("cell"))
        .coalesce(1).write.mode(SaveMode.Append)
        .partitionBy("cell").parquet(s"$vecIdxPath/vecs"),
      () => funnelDelta.unionByName(admitDelta).unionByName(shardDelta)
        .coalesce(1).write.mode(SaveMode.Append).parquet(censusPath))
    exactFresh.unpersist()
    meta.unpersist() // persisted above — a long stream must not accrete
  }

  private def exists(s: org.apache.spark.sql.SparkSession,
      path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).nonEmpty
  }
}
