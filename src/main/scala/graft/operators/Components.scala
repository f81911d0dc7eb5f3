package graft.operators

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType,
  StructField, StructType}

/** Connected components over a pair list — the clustering step after
  * near-duplicate PAIR detection: a training-data pipeline keeps one
  * representative per duplicate CLUSTER, and pairs alone under-remove
  * (a≈b, b≈c ⇒ {a,b,c} is one cluster even when a≉c directly).
  *
  * Min-label propagation with pointer jumping (the Hash-to-Min shape,
  * O(log diameter) rounds), executed Pregel-style on pair RDDs: the edge
  * list is hash-partitioned ONCE and never moves again; every round is a
  * single job whose only shuffles carry (node, label) LONG pairs — the
  * neighbor-min is a `reduceByKey` with map-side combine, so what crosses
  * the wire per round is bounded by the label frontier, not the edge count.
  * This is the one operator in the engine where the DataFrame API is the
  * wrong tool: SQL cannot pin a partitioning across iterations, so a
  * DataFrame loop re-shuffles the edges every round and (with AQE) pays
  * several stage-scheduling barriers per round — measured 4-6× the cost of
  * the co-partitioned RDD round on the same data. Integral node ids are
  * used as-is; anything wider (UUID strings at 100 TB) is compressed ONCE
  * to dense integer surrogates so the per-round shuffles never carry the
  * wide key. The loop is driver-side but touches only per-round AGGREGATE
  * results (a monotone label-sum probe), never row data.
  */
object Components {

  /** Cluster id (= min node id of the component) for every node.
    * `edges` is an undirected pair list (aCol, bCol); isolated nodes keep
    * their own id. Fails loudly if `maxIters` rounds don't reach the
    * fixpoint (propagation plus a pointer hop needs ~log2(diameter) rounds).
    *
    * Each round persists its label RDD and FREES the previous round's — no
    * checkpoint accumulation across the loop's lifetime; the edge cache is
    * released in a finally, so a mid-loop failure can't strand it. The
    * returned lazy frame depends only on the final label RDD and the small
    * persisted node map — never on the heavyweight pair-generation lineage
    * (which would otherwise re-run when the CALLER's terminal action
    * fires). */
  def connectedComponents(nodes: DataFrame, idCol: String, edges: DataFrame,
      aCol: String, bCol: String, maxIters: Int = 20): DataFrame = {
    val spark = nodes.sparkSession
    // Lineage-truncating extraction of a two-long-column frame. NOT
    // Dataset.rdd: that plans a SEPARATE deserializing query execution
    // whose row encoder is Janino-compiled on every call (measured 0.6+ s
    // of driver time per call); toRdd reuses the already-built physical
    // plan and the conversion is two primitive reads per row.
    def longPairRdd(df: DataFrame): RDD[(Long, Long)] =
      df.queryExecution.toRdd.map(ir => (ir.getLong(0), ir.getLong(1)))
    val idType = edges.schema(aCol).dataType
    val integral = idType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    // `pairs`: ONE evaluation of the (potentially expensive) pair-generation
    // plan, as (a, b) longs. `active`: (id: original type, sid: long),
    // persisted — it seeds the labels, resolves them back at the end, and
    // feeds the isolated-nodes anti-join. Integral ids are their own sids (a
    // long already shuffles as 8 bytes; surrogate assignment would only add
    // a sort and two joins). Wider ids are compressed once: zipWithIndex
    // over the ID-SORTED active node set keeps the surrogate order aligned
    // with the id order, so "min label" means the same thing in surrogate
    // space and the min-sid winner maps back to the min-id representative.
    val (pairs: RDD[(Long, Long)], active: DataFrame) =
      if (integral) {
        val rdd = longPairRdd(
          edges.select(col(aCol).cast(LongType), col(bCol).cast(LongType)))
          .persist()
        val ids = rdd.flatMap(kv => Iterator(kv._1, kv._2)).distinct()
          .map(i => Row(i, i))
        val act = spark.createDataFrame(ids,
          StructType(Seq(StructField("rawid", LongType),
            StructField("sid", LongType))))
          .select(col("rawid").cast(idType).as("id"), col("sid"))
          .persist()
        (rdd, act)
      } else {
        val idRdd = edges.select(col(aCol).as("s"), col(bCol).as("t")).rdd
          .persist()
        val mapping = spark.createDataFrame(
          idRdd.flatMap(r => Iterator(r.get(0), r.get(1))).distinct()
            .map(v => Row(v)),
          StructType(Seq(StructField("id", idType))))
          .orderBy(col("id")).rdd.zipWithIndex()
          .map { case (r, i) => Row(r.get(0), i) }
        val act = spark.createDataFrame(mapping,
          StructType(Seq(StructField("id", idType),
            StructField("sid", LongType)))).persist()
        val compressed = longPairRdd(
          spark.createDataFrame(idRdd.map(r => Row(r.get(0), r.get(1))),
            StructType(Seq(StructField("s", idType), StructField("t", idType))))
            .join(act.select(col("id").as("s"), col("sid").as("ss")), Seq("s"))
            .join(act.select(col("id").as("t"), col("sid").as("ts")), Seq("t"))
            .select(col("ss"), col("ts")))
          .persist()
        compressed.count() // materialize before dropping the raw edge cache
        idRdd.unpersist(false)
        (compressed, act)
      }
    var labels: RDD[(Long, Long)] = null
    var edgesK: RDD[(Long, Long)] = null
    try {
      // ONE job reads the active-set size and the initial label sum (= Σ sid,
      // since every label starts as the node's own sid). Labels only ever
      // DECREASE, so the fixpoint check is a plain sum compare — no join
      // against the previous round. Decimal: a 100 TB node set's label sum
      // overflows a long.
      val stats = active.agg(count(lit(1)),
        sum(col("sid").cast("decimal(38,0)"))).head
      val n = stats.getLong(0)
      val initSum =
        Option(stats.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)
      val parts = spark.sparkContext.defaultParallelism.max(1)
      val p = new HashPartitioner(parts)
      val sidRdd = active.select(col("sid")).queryExecution.toRdd
        .map(_.getLong(0))
      // Keyed edge list, partitioned ONCE and pinned: mirrored both ways
      // (undirected) plus a self-loop per node, so the per-round
      // neighbor-min already includes the node's own label and no separate
      // "least(own, nbr)" pass is needed.
      edgesK = pairs
        .flatMap(kv => Iterator((kv._1, kv._2), (kv._2, kv._1)))
        .union(sidRdd.map(s => (s, s)))
        .partitionBy(p).persist()
      edgesK.count() // fill the pinned edges before their input is freed
      pairs.unpersist(false)
      labels = sidRdd.map(s => (s, s)).partitionBy(p).persist()
      def bigSum(r: RDD[(Long, Long)]): java.math.BigDecimal =
        r.aggregate(java.math.BigDecimal.ZERO)(
          (acc, kv) => acc.add(java.math.BigDecimal.valueOf(kv._2)),
          _.add(_))
      var prevSum = initSum
      var converged = n == 0L
      var it = 0
      while (!converged && it < maxIters) {
        it += 1
        // co-partitioned join: the edge partitions never move; only the
        // (s, lbl) messages shuffle, pre-combined map-side by reduceByKey
        val red = edgesK.join(labels, p)
          .map { case (_, (s, lbl)) => (s, lbl) }
          .reduceByKey(p, (a: Long, b: Long) => math.min(a, b))
        // one pointer hop (label := label(label)): every label IS an active
        // node id, and self-loops guarantee every node has a row, so the
        // inner join is total
        val hopped = red.map { case (id, lbl) => (lbl, id) }.join(red, p)
          .map { case (_, (id, lbl2)) => (id, lbl2) }
          .partitionBy(p).persist()
        val newSum = bigSum(hopped)
        labels.unpersist(false)
        labels = hopped
        converged = newSum.compareTo(prevSum) == 0
        prevSum = newSum
      }
      if (!converged) throw new IllegalStateException(
        s"connectedComponents did not reach a fixpoint in $maxIters rounds")
      // Resolve sids back to original ids through the small persisted map:
      // both the node and its min-sid label broadcast-join against `active`
      // (at a scale where the active set outgrows the broadcast threshold,
      // these become ordinary uniform-key shuffles).
      val labelsDf = spark.createDataFrame(
        labels.map { case (i, l) => Row(i, l) },
        StructType(Seq(StructField("id", LongType),
          StructField("lbl", LongType))))
      val clustered = labelsDf
        .join(active.select(col("sid").as("id"), col("id").as("_orig")), Seq("id"))
        .join(active.select(col("sid").as("lbl"), col("id").as("_cl")), Seq("lbl"))
        .select(col("_orig").as(idCol), col("_cl").as("cluster_id"))
      val isolated = nodes.select(col(idCol))
        .join(active.select(col("id").as(idCol)), Seq(idCol), "left_anti")
        .select(col(idCol), col(idCol).as("cluster_id"))
      clustered.unionByName(isolated)
    } catch { case e: Throwable =>
      // the result was never built — free the frames it would have kept
      active.unpersist(false)
      if (labels != null) labels.unpersist(false)
      throw e
    } finally {
      // safe unconditionally: the result's lineage never touches the edges
      pairs.unpersist(false)
      if (edgesK != null) edgesK.unpersist(false)
    }
  }
}
