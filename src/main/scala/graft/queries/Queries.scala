package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.time.Align
import graft.gaps.GapEngine
import graft.functions.Funcs
import graft.operators.{Bpe, Decontaminate, Dedup, Doremi, HtmlExtract, Layout, Multimodal, Perceptron, Sampling, Similarity, Sketches, Skew, Spread, TextAnalysis, UrlNormalize}
import QuerySpec._

/** The declared query surface: one entry per operator family from
  * SURVEY.md §2 plus the training-data-pipeline operators. Each query has a
  * DuckDB twin in [[Oracles]]; cross-engine determinism rules:
  *
  *  - money sums go through exact DECIMAL(18,2), then cast to DOUBLE
  *    (both engines produce the identical double);
  *  - timestamps are epoch-ms LONGs end to end;
  *  - md5 is the only hash; double chains fold left-to-right;
  *  - every result has a total ORDER BY on a unique key set.
  */
object Queries {

  /** Stage one delivery batch as a single, deterministically-ORDERED drop
    * file: the part file is renamed to `b000<b>.txt` and stamped with a
    * strictly increasing modification time, so a rate-limited file source
    * (`maxFilesPerTrigger = 1`) processes staged batches in exactly
    * delivery order — Spark's file source orders by (modTime); controlled
    * stamps make that deterministic instead of relying on sub-millisecond
    * write timing or tie-breaks. This lets a WATERMARK-FREE lifecycle
    * (w14) run its N-batch delivery plan in ONE query start. The
    * watermarked lifecycles (w9-w12) deliberately do NOT use it: inside a
    * single run the late-record filter evaluates against the PREVIOUS
    * batch's watermark (Spark's two-value watermark propagation — see
    * EventDedupStreamSpec's in-run lag spec), while a restart loads the
    * committed value — so their restart-per-delivery form is the one
    * their oracles' watermark algebra replays. */
  def stageBatchFile(lines: org.apache.spark.sql.DataFrame,
      drop: java.nio.file.Path, b: Int): Unit = {
    val tmp = scratchDir("graft-stage")
    lines.coalesce(1).write.mode("overwrite").text(tmp.toString)
    val it = java.nio.file.Files.list(tmp).iterator()
    var part: java.nio.file.Path = null
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.startsWith("part-")) part = p
    }
    val dst = drop.resolve(f"b$b%04d.txt")
    java.nio.file.Files.move(part, dst,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the pinned mtime IS the batch order (file source orders by (mtime,
    // path)) — a silently-failed pin would let near-identical staging
    // mtimes scramble the batch↔file correspondence, so fail loud here
    // (r13 ADVICE), matching the adjacent fail-loud staging requires
    require(dst.toFile.setLastModified(1700000000000L + b * 60000L),
      s"could not pin mtime on staged batch file $dst")
    ()
  }

  /** Process-wide memo of materialized staging dirs, keyed by (query,
    * sf dir): queries that must materialize a derived corpus to disk
    * before reading it back (k6's JSONL round-trip, pipe7's WARC shards)
    * write it ONCE per JVM and re-read thereafter — the staged bytes are a
    * pure function of (query, sf dir), and without the memo every bench
    * invocation (~6 runs/query) wrote a fresh corpus-sized copy into /tmp
    * and never deleted it. A JVM shutdown hook removes all staged dirs. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()
  private val tmpRoots =
    new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private def deleteRecursively(p: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      val all = try walk.iterator().asScala.toSeq finally walk.close()
      all.reverseIterator.foreach { q =>
        try java.nio.file.Files.deleteIfExists(q)
        catch { case _: Throwable => () }
      }
    }
  }
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      tmpRoots.forEach(d =>
        deleteRecursively(java.nio.file.Paths.get(d)))))
  }
  /** Test-only accessor: the staged dir this JVM memoized for (query,
    * sf dir), if any — lets the staging-uniqueness spec read the staged
    * artifacts the admission planes serve from WITHOUT duplicating the
    * staging construction (a drifted inline copy would keep asserting a
    * contract the queries no longer stage). */
  private[graft] def stagedPathFor(query: String,
      sfKey: String): Option[String] =
    Option(stagedDirs.get((query, sfKey)))

  private def stagedDir(query: String, sfKey: String)(
      write: String => Unit): String =
    stagedDirs.computeIfAbsent((query, sfKey), _ => {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_${query}_").toString
      tmpRoots.add(root)
      write(root)
      root
    })

  /** Stage a streaming DROP DIR once per (query, sf): `write` stages the
    * batch-partitioned frame under `<root>/stage`, then one part file
    * per batch moves into `<root>/drop` with a PINNED mtime (file-source
    * order is (mtime, path), so discovery order == batch order). Drop
    * files are deterministic fixture INPUT — re-staging them per bench
    * run paid one Spark job per run for identical bytes (r15) — and the
    * memoized dir is READ-ONLY to the stream: every run's own checkpoint
    * re-discovers the same files, while all mutable state (ckpt, sinks,
    * index copies) stays per-run scratch. `ext` selects the part-file
    * suffix ("parquet"/"txt"); `allowEmpty` tolerates an empty batch
    * residue by creating an empty drop file in its slot (the w16 text
    * contract) instead of failing loud (the w19/w20 staging rule). */
  private def stagedDropDir(query: String, d: String, batches: Int,
      ext: String, allowEmpty: Boolean = false)(
      write: String => Unit): String =
    stagedDir(query, d) { root =>
      val tmp = java.nio.file.Paths.get(root, "stage")
      write(tmp.toString)
      val drop = java.nio.file.Paths.get(root, "drop")
      java.nio.file.Files.createDirectories(drop)
      import scala.jdk.CollectionConverters._
      for (b <- 0 until batches) {
        val bDir = tmp.resolve(s"batch=$b")
        val part = if (java.nio.file.Files.isDirectory(bDir)) {
          val ls = java.nio.file.Files.list(bDir)
          try ls.iterator().asScala
            .find(p => p.getFileName.toString.startsWith("part-") &&
              (ext == "txt" || p.getFileName.toString.endsWith(s".$ext")))
            finally ls.close()
        } else None
        val f = drop.resolve(s"batch$b.$ext")
        part match {
          case Some(p) => java.nio.file.Files.move(p, f)
          case None if allowEmpty =>
            // an empty batch writes no dir; an empty drop file keeps the
            // batch-id <-> file-order correspondence intact
            java.nio.file.Files.createFile(f)
          case None => throw new IllegalStateException(
            s"$query staging: residue class for batch $b is empty under " +
              s"$d — the drop-file <-> batch-id correspondence breaks")
        }
        require(f.toFile.setLastModified(1700000000000L + b * 1000L),
          s"could not pin mtime on drop file $f")
      }
    } + "/drop"

  /** Per-invocation scratch root (streaming drop dirs / checkpoints /
    * sinks — state that must NOT be memoized across runs): same
    * createTempDirectory, but registered for recursive deletion at JVM
    * exit so repeated bench runs leave /tmp flat. */
  private[graft] def scratchDir(prefix: String): java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    tmpRoots.add(p.toString)
    p
  }

  /** Repeated-run isolation for the streaming admission queries: copy a
    * STAGED base store into per-run scratch so stream appends never leak
    * across runs (the staged tree is read-only; a file copy is cheap
    * against re-hashing/re-assigning the base corpus). One helper for the
    * w16/w20/m7/pipe16/w21 call sites — one copy contract, no drift. */
  private def copyTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(src)
    val paths = try walk.iterator().asScala.toSeq.sortBy(_.toString)
      finally walk.close()
    paths.foreach { p =>
      val d = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(d)
      else java.nio.file.Files.copy(p, d)
    }
  }

  /** exact money sum: decimal accumulate, double out. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  private def tsMs(c: Column): Column = Tables.unixMillis(c)

  /** Filter-side epoch-ms comparison: compare the RAW timestamp column to a
    * timestamp literal so the predicate pushes into the parquet scan
    * (`unix_millis(col) < x` wraps the column and blocks pushdown; this form
    * shows up as PushedFilters: [LessThan(col, ...)]). Equivalent because
    * ms-floor is monotonic and the bound is an integer millisecond. */
  private def tsBefore(c: Column, ms: Long): Column =
    c.cast("timestamp") < timestamp_millis(lit(ms))
  private def tsAtOrAfter(c: Column, ms: Long): Column =
    c.cast("timestamp") >= timestamp_millis(lit(ms))
  private def tsAfter(c: Column, ms: Long): Column =
    // strict >: ms-floor(ts) > ms  ⇔  ts >= (ms+1) milliseconds
    c.cast("timestamp") >= timestamp_millis(lit(ms + 1))

  private def floorMs(c: Column, ivl: Long): Column = Align.floorTo(c, ivl)

  // ---- TPC-H-ish relational core (bench headliners) ----------------------

  /** Q1-style pricing summary: full-scan groupBy aggregation. */
  def q1PricingSummary(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    val tax = col("l_tax").cast("decimal(18,2)")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (lit(1) - disc)).cast("double").as("sum_disc_price"),
        sum(price * (lit(1) - disc) * (lit(1) + tax)).cast("double").as("sum_charge"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
          count(lit(1)), 6).as("avg_qty"),
        round(sum(price).cast("double") / count(lit(1)), 6).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Q6-style forecast revenue: a pure pushed-down scan-filter-agg — the
    * date and quantity predicates reach the parquet scan, no join, one
    * partial+final aggregate. */
  def q6ForecastRevenue(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    Tables.lineitem(s, d)
      .where(tsAtOrAfter(col("l_shipdate"), Ms1996) &&
        tsBefore(col("l_shipdate"), Ms1997) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(sum(price * disc).cast("double").as("revenue"))
  }

  /** Q14-style promo revenue share: broadcast part join + conditional sum
    * ratio. */
  def q14PromoRevenue(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice").cast("decimal(18,2)")
    val disc = col("l_discount").cast("decimal(18,2)")
    val dp = price * (lit(1) - disc)
    Tables.lineitem(s, d)
      .where(tsAtOrAfter(col("l_shipdate"), Ms1996) &&
        tsBefore(col("l_shipdate"), Ms1997))
      .join(broadcast(Tables.part(s, d).select(col("p_partkey"), col("p_type"))),
        col("l_partkey") === col("p_partkey"))
      .agg(round(lit(100.0) *
        sum(when(col("p_type").startsWith("PROMO"), dp)).cast("double") /
        sum(dp).cast("double"), 6).as("promo_revenue"))
  }

  /** Q3-style: dim filter → fact join → agg → top-N. Broadcast the dim. */
  def q3ShippingPriority(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
    val ord = Tables.orders(s, d).where(tsBefore(col("o_orderdate"), Ms1998))
    val li = Tables.lineitem(s, d).where(tsAfter(col("l_shipdate"), Ms1996))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), tsMs(col("o_orderdate")).as("o_orderdate_ms"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
        col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** Q5-style: 5-way join (3 broadcast dims), region-filtered revenue. */
  def q5LocalSupplier(s: SparkSession, d: String): DataFrame = {
    val region = Tables.region(s, d).where(col("r_name") === "ASIA")
    val nation = Tables.nation(s, d)
    val cust = Tables.customer(s, d)
    val supp = Tables.supplier(s, d)
    val ord = Tables.orders(s, d)
      .where(tsAtOrAfter(col("o_orderdate"), Ms1996) &&
        tsBefore(col("o_orderdate"), Ms1997))
    val li = Tables.lineitem(s, d)
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust.select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp.select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
        col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Q9-style: product-line profit by supplier nation and year (substring
    * product filter + 4-way join + two-level rollup grain). */
  def q9ProductProfit(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d).where(col("p_name").contains("red"))
        .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate").cast("timestamp")).as("o_year"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
          col("l_discount").cast("decimal(18,2)")) -
          col("p_retailprice").cast("decimal(18,2)") *
          col("l_quantity").cast("decimal(18,2)"))
        .cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)

  /** Q8-style: market share — a nation's revenue share within its region
    * per year. Six-way join (all dims broadcast), then a conditional-sum
    * ratio; the share division is rounded with the floor-safe form (both
    * engines floor identical doubles — round(double) diverges at .5·10⁻⁶
    * boundaries). */
  def q8MarketShare(s: SparkSession, d: String): DataFrame = {
    val vol = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1) - col("l_discount").cast("decimal(18,2)"))
    val nCust = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_regionkey"))
    val nSupp = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
        .where(tsAtOrAfter(col("o_orderdate"), Ms1996) &&
          tsBefore(col("o_orderdate"), Ms1998)),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nCust), col("c_nationkey") === col("c_nk"))
      .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nSupp), col("s_nationkey") === col("s_nk"))
      .groupBy(year(col("o_orderdate").cast("timestamp")).as("o_year"))
      .agg(
        sum(when(col("supp_nation") === "NATION_2", vol)).cast("double")
          .as("nation_vol"),
        sum(vol).cast("double").as("total_vol"))
      .select(col("o_year"),
        (floor((coalesce(col("nation_vol"), lit(0.0)) / col("total_vol")) *
          lit(1000000.0) + lit(0.5)) / lit(1000000.0)).as("mkt_share"))
      .orderBy(col("o_year"))
  }

  /** Q17-style: small-quantity revenue — a correlated per-part scalar
    * subquery (avg quantity per partkey) re-expressed as a pre-aggregate
    * broadcast join; the average is exact decimal-sum / count so partial
    * aggregation order can't perturb the comparison threshold. */
  def q17SmallQuantity(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val avgQ = li.groupBy(col("l_partkey").as("p_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_qty"))
    li.join(broadcast(Tables.part(s, d).where(col("p_brand") === "Brand#13")
        .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      // avgQ is per-part (dim-sized here, fact-keyed at 100 TB) — no
      // broadcast hint: AQE broadcasts locally, shuffles on the uniform
      // partkey when it outgrows the threshold
      .join(avgQ, Seq("p_partkey"))
      .where(col("l_quantity") < lit(0.2) * col("avg_qty"))
      .agg((sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double") /
        lit(7.0)).as("avg_yearly"))
  }

  /** Q15-style: top supplier by interval revenue — the view + HAVING-max
    * shape: aggregate once, compare every group against the broadcast
    * scalar max. Double equality is safe because both sides are the SAME
    * deterministic decimal-sum-derived doubles. */
  def q15TopSupplier(s: SparkSession, d: String): DataFrame = {
    val rev = Tables.lineitem(s, d)
      .where(tsAtOrAfter(col("l_shipdate"), Ms1996) &&
        tsBefore(col("l_shipdate"), Ms1997))
      .groupBy(col("l_suppkey").as("s_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
        col("l_discount").cast("decimal(18,2)"))).cast("double")
        .as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    Tables.supplier(s, d)
      .join(rev, Seq("s_suppkey"))
      .crossJoin(broadcast(top))
      .where(col("total_rev") === col("max_rev"))
      .select(col("s_suppkey"), col("s_name"), col("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** S4: per-label embedding centroids — the IVF coarse-quantizer training
    * step as a single vector aggregation (element-wise means). Sums
    * accumulate in exact decimal (commutative — partial-aggregation order
    * can't perturb the result), means divide in double. */
  def s4Centroids(s: SparkSession, d: String): DataFrame = {
    val agged = Tables.embeddings(s, d)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        (0 until EmbeddingDim).map(i =>
          sum(element_at(col("embedding"), i + 1).cast("double")
            .cast("decimal(27,9)")).cast("double").as(s"s$i")): _*)
    agged.select(col("label") +: col("n") +:
      (0 until EmbeddingDim).map(i =>
        round(col(s"s$i") / col("n"), 6).as(s"c$i")): _*)
      .orderBy(col("label"))
  }

  /** Q18-style: shuffle-heavy groupBy-HAVING on the fact, then join back. */
  def q18LargeOrders(s: SparkSession, d: String): DataFrame = {
    val big = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"))
      .where(col("sum_qty") > 300)
    Tables.orders(s, d)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        tsMs(col("o_orderdate")).as("o_orderdate_ms"), col("o_totalprice"),
        col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Q7-style: two-dim-role join (supplier nation × customer nation) over
    * the fact, yearly revenue per directed pair. */
  def q7TradeFlows(s: SparkSession, d: String): DataFrame = {
    val n1 = Tables.nation(s, d)
      .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, d)
      .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)
        .select(col("s_suppkey"), col("s_nationkey"))),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
      .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
      .where(col("supp_nation").isin("NATION_1", "NATION_2") &&
        col("cust_nation").isin("NATION_1", "NATION_2") &&
        col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate").cast("timestamp")).as("l_year"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
        col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** Q4-style: correlated EXISTS — orders in a quarter having at least one
    * returned item, counted per priority. The EXISTS plans as a left-semi
    * join (one pass over the fact, no duplication of matching orders). */
  def q4OrderPriority(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .where(tsAtOrAfter(col("o_orderdate"), Ms1996) &&
        tsBefore(col("o_orderdate"), Ms1997))
      .join(Tables.lineitem(s, d).where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** Q13-style: customer order-count distribution — left-outer join with an
    * ON-clause filter on the right side (customers with zero qualifying
    * orders keep a row, c_count = 0), then a count-of-counts. */
  def q13CustDist(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey"))
      .join(Tables.orders(s, d)
        .where(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey").as("c_custkey"), col("o_orderkey")),
        Seq("c_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Q10-style: returned-item revenue per customer, top 20. */
  def q10ReturnedItems(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .where(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
        .where(tsAtOrAfter(col("o_orderdate"), Ms1996) &&
          tsBefore(col("o_orderdate"), Ms1997)),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("c_acctbal"), col("n_name"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
        col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)

  /** Q2-style: min-cost supplier — the correlated-min-subquery shape.
    * Lineitem doubles as the part↔supplier supply relation (there is no
    * partsupp table in this schema): per (part, supplier) the offer price
    * is min(l_extendedprice), and a part's winning suppliers are those
    * whose offer equals the part-wide minimum. The correlated subquery is
    * re-expressed as a pre-aggregate joined back on the part key — the
    * min-cost frame is part-keyed (uniform), so AQE broadcasts it locally
    * and shuffles it hash-on-partkey at scale; the double equality is safe
    * because both sides are the SAME un-arithmetic'd min of stored values. */
  def q2MinCostSupplier(s: SparkSession, d: String): DataFrame = {
    val parts = Tables.part(s, d)
      .where(col("p_size") <= 15 && col("p_type") === "LARGE")
      .select(col("p_partkey"), col("p_name"))
    // the part filter can't push below the offer aggregate on its own (it
    // hits non-key columns), so prune EXPLICITLY: broadcast-semi-join the
    // fact against the filtered part list BEFORE aggregating — per-part
    // minima are unchanged, and at scale the aggregate consumes the
    // qualifying slice instead of the whole fact
    val offers = Tables.lineitem(s, d)
      .join(broadcast(parts.select(col("p_partkey").as("l_partkey"))),
        Seq("l_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice")).as("supp_cost"))
    val best = offers.groupBy(col("l_partkey"))
      .agg(min(col("supp_cost")).as("min_cost"))
    offers.join(best, Seq("l_partkey"))
      .where(col("supp_cost") === col("min_cost"))
      .join(broadcast(parts), col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("supp_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** Q11-style: important stock value — groups whose value exceeds a
    * threshold derived from the GLOBAL aggregate (1.6× the mean per-part
    * value — mean-relative so the selectivity survives scale-up, unlike
    * TPC-H's literal total-fraction which no part can clear once the part
    * count outgrows it). The per-part value aggregates once; the global
    * threshold is the same aggregate re-reduced to a scalar and
    * cross-joined back (broadcast by construction — one row). Decimal sums
    * keep both engines' partial-aggregation order irrelevant. */
  def q11ImportantValue(s: SparkSession, d: String): DataFrame = {
    val value = (col("l_extendedprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(18,2)"))
    val perPart = Tables.lineitem(s, d)
      .groupBy(col("l_partkey"))
      .agg(sum(value).cast("double").as("part_value"))
    val threshold = perPart
      .agg((sum(col("part_value").cast("decimal(27,2)")).cast("double") /
        count(lit(1)) * lit(1.6)).as("cut"))
    perPart.crossJoin(broadcast(threshold))
      .where(col("part_value") > col("cut"))
      .select(col("l_partkey"), col("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** Q12-style: priority split by line status (the two-bucket conditional
    * count — ship mode isn't in this schema, l_linestatus plays its role):
    * orders joined to 1996-shipped lineitems, counting urgent/high vs other
    * priorities per status. One shuffle on the join key, then a tiny
    * two-group aggregate. */
  def q12PrioritySplit(s: SparkSession, d: String): DataFrame = {
    val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(s, d)
      .where(tsAtOrAfter(col("l_shipdate"), Ms1996) &&
        tsBefore(col("l_shipdate"), Ms1997))
      .join(Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_linestatus"))
      .agg(sum(when(hi, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(hi, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy(col("l_linestatus"))
  }

  /** Q16-style: supplier diversity per part class — count(DISTINCT supp)
    * per (brand, type, size) bucket, EXCLUDING a supplier denylist (the
    * "complaints" anti-join; negative account balance plays the complaint
    * predicate's role). The denylist is dimension-sized → broadcast
    * anti-join; the distinct-count shuffles the (brand,type,size,supp)
    * grain once. */
  def q16SupplierCount(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(col("l_partkey"), col("l_suppkey"))
      .join(broadcast(Tables.part(s, d)
        .where(col("p_brand") =!= "Brand#13" && col("p_size") <= 25)
        .select(col("p_partkey"), col("p_brand"), col("p_type"),
          col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(Tables.supplier(s, d).where(col("s_acctbal") < 0)
        .select(col("s_suppkey").as("l_suppkey"))),
        Seq("l_suppkey"), "left_anti")
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))

  /** Q19-style: disjunctive predicate revenue — three (brand, size range,
    * quantity range) OR-arms spanning both join sides. Catalyst splits the
    * common conjuncts out of the OR: the part filter (size ≥ 1, the brand
    * IN-set) and the quantity envelope push into their scans, the residual
    * disjunction evaluates post-join. */
  def q19DisjunctiveRevenue(s: SparkSession, d: String): DataFrame = {
    val arm = (brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === brand &&
        col("p_size").between(szLo, szHi) &&
        col("l_quantity").between(qLo, qHi)
    Tables.lineitem(s, d)
      .join(broadcast(Tables.part(s, d)
        .select(col("p_partkey"), col("p_brand"), col("p_size"))),
        col("l_partkey") === col("p_partkey"))
      .where(arm("Brand#12", 1, 5, 1, 11) || arm("Brand#23", 1, 10, 10, 20) ||
        arm("Brand#34", 1, 15, 20, 30))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") * (lit(1) -
        col("l_discount").cast("decimal(18,2)"))).cast("double").as("revenue"))
  }

  /** Q20-style: potential part promotion — suppliers sitting on excess
    * stock of a name-class of parts. Without a partsupp table, lineitem
    * doubles as the supply relation (same convention as q2): a
    * (part, supplier)'s available stock is its all-time supplied quantity,
    * and TPC-H's correlated "half of what shipped that year" subquery
    * becomes a conditional sum in the SAME aggregation pass — the fact
    * scans once, not once per outer row. The part-name prefix prunes the
    * fact via broadcast semi-join BEFORE the aggregate; the surviving
    * supplier keys (bounded by |supplier|) semi-join into the dimension. */
  def q20PromotionSuppliers(s: SparkSession, d: String): DataFrame = {
    val largeParts = Tables.part(s, d)
      .where(col("p_name").startsWith("large"))
      .select(col("p_partkey").as("l_partkey"))
    val in1996 = tsAtOrAfter(col("l_shipdate"), Ms1996) &&
      tsBefore(col("l_shipdate"), Ms1997)
    val excess = Tables.lineitem(s, d)
      .join(broadcast(largeParts), Seq("l_partkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
          .as("total_qty"),
        sum(when(in1996, col("l_quantity")).otherwise(lit(0))
          .cast("decimal(18,2)")).cast("double").as("qty_1996"))
      .where(col("total_qty") > col("qty_1996") * 2)
      .select(col("l_suppkey").as("s_suppkey")).distinct()
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)
        .where(col("n_name").isin("NATION_3", "NATION_7"))
        .select(col("n_nationkey").as("s_nationkey"))),
        Seq("s_nationkey"), "left_semi")
      .join(excess, Seq("s_suppkey"), "left_semi")
      .select(col("s_name"), col("s_acctbal"))
      .orderBy(col("s_name"))
  }

  /** Q21-style: the suppliers-who-kept-the-order-waiting shape — EXISTS and
    * NOT EXISTS against the SAME fact at different predicates. A supplier's
    * returned line (flag R) on a finished order counts only when another
    * supplier is on the order (semi-join) and no OTHER supplier also
    * returned (anti-join). Both probes re-aggregate lineitem to
    * order-grain summaries first, so the exists checks join order-keyed
    * aggregates instead of exploding line×line pairs. */
  def q21WaitingSupplier(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // only orders with a returned line can produce output — restrict the
    // profile aggregate to that slice before grouping; the R-scan
    // predicate pushes to parquet (no distinct on the semi-join build
    // side: the hash build dedups keys for free)
    val retOrders = li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey"))
    // order-grain profile: supplier count overall and among returned
    // lines. Two cascaded aggregates — (order, supplier) grain with a
    // map-side combine, then order grain — instead of two countDistincts,
    // which would plan an Expand that doubles every shuffled row
    val prof = li
      .join(retOrders, Seq("l_orderkey"), "left_semi")
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(when(col("l_returnflag") === "R", 1L).otherwise(0L))
        .as("_ret"))
      .groupBy(col("l_orderkey").as("o_orderkey"))
      .agg(count(lit(1)).as("n_supp"), sum(col("_ret")).as("n_ret_supp"))
    li.where(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("o_orderkey"), col("l_suppkey"))
      .distinct()
      .join(Tables.orders(s, d).where(col("o_orderstatus") === "F")
        .select(col("o_orderkey")), Seq("o_orderkey"), "left_semi")
      // EXISTS other supplier ∧ NOT EXISTS other returning supplier
      .join(prof.where(col("n_supp") > 1 && col("n_ret_supp") === 1),
        Seq("o_orderkey"), "left_semi")
      .join(broadcast(Tables.supplier(s, d)),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Q22-style: idle high-balance customers — a scalar-average subquery
    * (positive balances only) gates customers, an ANTI-join drops anyone
    * with orders, and the survivors roll up by a name-prefix code (the
    * schema's stand-in for the phone country code). The average is exact
    * decimal-sum/count; the anti-join shuffles customer-keyed rows once. */
  def q22IdleCustomers(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val avgBal = cust.where(col("c_acctbal") > 0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avg_bal"))
    cust.crossJoin(broadcast(avgBal))
      .where(col("c_acctbal") > col("avg_bal"))
      // "idle" = never placed an urgent order (every customer in the
      // fixture has SOME order; the filtered anti-join keeps the shape and
      // a non-empty answer)
      .join(Tables.orders(s, d).where(col("o_orderpriority") === "1-URGENT")
        .select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .groupBy(substring(col("c_name"), 17, 2).as("code"))
      .agg(count(lit(1)).as("numcust"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
          .as("totacctbal"))
      .orderBy(col("code"))
  }

  // ---- Aggregations (SURVEY §2.5) ----------------------------------------

  /** A1 generalized: incremental watermark = max(ts) per key, one job for
    * every key instead of the reference's per-symbol round-trips. */
  def a1WatermarkMax(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("ts_ms")).as("max_ts_ms"), count(lit(1)).as("n"))
      .orderBy(col("user_id"), col("event_type"))

  /** A2 integrity scan as ONE shuffle: counts per (type, hour) left-joined
    * against the full expected calendar; EMPTY/PARTIAL/OK classification
    * (reference runs 24×days×symbols separate COUNT queries). */
  def a2IntegrityHours(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val counts = ev
      .groupBy(col("event_type"), floorMs(col("ts_ms"), HourMs).as("hour_ms"))
      .agg(count(lit(1)).as("n"))
    val hours = s.range(1).select(explode(sequence(
      lit(RangeStartMs), lit(LastHourMs), lit(HourMs))).as("hour_ms"))
    val types = ev.select(col("event_type")).distinct()
    types.crossJoin(hours)
      .join(counts, Seq("event_type", "hour_ms"), "left_outer")
      .select(col("event_type"), col("hour_ms"),
        coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("status",
        when(col("n") === 0, "EMPTY")
          .when(col("n") < PartialThreshold, "PARTIAL")
          .otherwise("OK"))
      .orderBy(col("event_type"), col("hour_ms"))
  }

  /** A3: latest row per key via row_number over a desc window. */
  def a3LatestPerUser(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    Tables.events(s, d)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("event_type"), col("value"))
      .orderBy(col("user_id"))
  }

  /** A5: distinct-set cardinalities per group. */
  def a5DistinctUsers(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** A23: 3-step window funnel (ClickHouse `windowFunnel` semantics):
    * per user, the deepest view→click→purchase chain where every later
    * step lands within [[QuerySpec.SeqWithinMs]] of the FIRST step. No
    * self-joins (the naive form is a per-user A×B×C cube, cubic on hot
    * users): a16's conditional-min trick twice over ONE sort — pass 1
    * gives every row its next-purchase time, pass 2 gives every row the
    * earliest following click's ts AND that click's next-purchase; a
    * chain to depth 3 exists iff the latter lands inside the deadline
    * (any click whose purchase beats the deadline is itself inside it,
    * since purchase > click). Same-ts ties order by event_id — strictly
    *-after is the ROWS 1 FOLLOWING frame, deterministic. Both window
    * passes share the (user_id | ts, event_id) sort (the w13 plan lock);
    * per-user max level reuses the window partitioning, so the only data
    * shuffles are the user hash + the 4-row census agg. */
  /** A24: conversion ATTRIBUTION — the marketing-analytics primitive
    * funnels feed: credit each conversion (purchase) to its FIRST-touch
    * and LAST-touch preceding click within a 7-day lookback, per user.
    * Both touches come from ONE value-RANGE window frame
    * `[ts−lookback, ts−1]` (conditional min and max share the frame, so
    * Catalyst plans a single Window over a single (user | ts) sort) —
    * the moving lower bound is exactly what RANGE frames express and
    * ROWS frames cannot. Value-based frames have identical peer
    * semantics on both engines (same-ms self-touches are excluded by the
    * −1 upper bound on both). Census per conversion day: conversions,
    * attributed, multi-touch, and integer-minute first/last gap sums —
    * all exact integer arithmetic. Scale shape: one user-grain hash
    * shuffle for the window, then a |days|-row census; at 100 TB the
    * frame is per-key streaming state (Spark's RangeFrame holds only the
    * rows inside the 7-day bound), never a self-join. */
  def a24Attribution(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"), col("ts_ms"))
    val touchTs = when(col("event_type") === FunnelB, col("ts_ms"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"))
      .rangeBetween(-AttrLookbackMs, -1)
    ev
      // one select = one Window operator carrying both frame aggregates
      // (chained withColumns planned as two WindowExecs over the same
      // sort — CollapseWindow didn't fuse them)
      .select(col("user_id"), col("event_type"), col("ts_ms"),
        min(touchTs).over(w).as("ft_ts"),
        max(touchTs).over(w).as("lt_ts"))
      .where(col("event_type") === FunnelC)
      .withColumn("day", expr(s"ts_ms div ${24 * HourMs}"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_conversions"),
        sum(when(col("lt_ts").isNotNull, 1L).otherwise(0L))
          .as("n_attributed"),
        sum(when(col("ft_ts") < col("lt_ts"), 1L).otherwise(0L))
          .as("n_multi_touch"),
        sum(when(col("lt_ts").isNotNull,
          expr("(ts_ms - lt_ts) div 60000")).otherwise(0L))
          .as("sum_last_gap_min"),
        sum(when(col("ft_ts").isNotNull,
          expr("(ts_ms - ft_ts) div 60000")).otherwise(0L))
          .as("sum_first_gap_min"))
      .orderBy(col("day"))
  }

  /** A30: Markov-chain attribution — removal effects (Anderl et al.
    * 2014), the data-driven successor to a24's positional rules: model
    * user journeys as a first-order Markov chain over touchpoint states
    * (START → channels → CONV/NULL, journeys cut at the FIRST
    * conversion), then credit each channel by how much the chain's
    * absorption probability at CONV drops when that channel is removed
    * (its transitions redirected to NULL, out-degrees unchanged — the
    * standard removal-effect rule).
    *
    * Scale split, the a18/sketch playbook: the CORPUS work is one
    * user-grain window pass (journey order + first-purchase cut + lag
    * transitions) and one (src, dst) aggregate — uniform keys; what
    * reaches the driver is the transition MATRIX, ≤ (|channels|+3)²
    * cells, a model not row data. Absorption runs `MarkovIters` fixed
    * steps of the exact integer recurrence p(s) ← Σ cnt(s,t)·p(t) div
    * out(s) in micro units (floor at every step — both engines replay
    * the identical integer sequence; the DuckDB twin unrolls the same
    * recurrence as generated CTEs, a18's pattern, so a single rounding
    * divergence anywhere in 5 chains × 12 steps hash-fails). Removal
    * effects and the normalized attribution shares stay in integer ppm. */
  def a30MarkovAttribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        col("event_type"))
      .withColumn("rn", row_number().over(wOrd))
    val fp = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id")).agg(min(col("rn")).as("prn"))
    val j = ev.join(fp, Seq("user_id"), "left")
      .where(col("prn").isNull || col("rn") <= col("prn"))
      .withColumn("state",
        when(col("event_type") === "purchase", lit("CONV"))
          .otherwise(col("event_type")))
    val wRn = Window.partitionBy(col("user_id")).orderBy(col("rn"))
    val tr = j.select(
      coalesce(lag(col("state"), 1).over(wRn), lit("START")).as("src"),
      col("state").as("dst"))
    val tail = j.where(col("prn").isNull)
      .withColumn("mx", max(col("rn")).over(Window.partitionBy(col("user_id"))))
      .where(col("rn") === col("mx"))
      .select(col("state").as("src"), lit("NULL").as("dst"))
    val edges = tr.unionByName(tail)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outc = edges.groupBy(_._1).map { case (s0, es) =>
      s0 -> es.map(_._3).sum }
    val transientStates = edges.map(_._1).distinct
      .filterNot(Set("CONV", "NULL")).toSeq
    // exact integer absorption: p starts as {CONV: 1e6}, everything else
    // 0; each step rebuilds the whole transient vector from the PREVIOUS
    // one (no in-place update — the oracle's CTE unroll is step-grain)
    def absorb(skip: Option[String]): Long = {
      var p = Map("CONV" -> 1000000L).withDefaultValue(0L)
      for (_ <- 1 to MarkovIters) {
        val next = transientStates.filterNot(skip.contains).map { s0 =>
          s0 -> edges.filter(_._1 == s0).map(e => e._3 * p(e._2)).sum /
            outc(s0)
        }.toMap
        p = (next + ("CONV" -> 1000000L)).withDefaultValue(0L)
      }
      p("START")
    }
    val base = absorb(None)
    val rows = MarkovChannels.map { c =>
      val removed = absorb(Some(c))
      val touches = edges.filter(_._2 == c).map(_._3).sum
      val eff = if (base > 0) (base - removed) * 1000000L / base else 0L
      (c, touches, base, removed, eff)
    }
    val effSum = rows.map(_._5).sum
    rows.map { case (c, t, b, r, e) =>
      (c, t, b, r, e, if (effSum > 0) e * 1000000L / effSum else 0L)
    }.toDF("channel", "n_touches", "base_cv_ppm", "removed_cv_ppm",
      "removal_effect_ppm", "attribution_ppm")
      .orderBy(col("channel"))
  }

  def a23WindowFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(1, Window.unboundedFollowing)
    val dl = col("ts_ms") + lit(SeqWithinMs)
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("event_type"))
      .withColumn("np",
        min(when(col("event_type") === FunnelC, col("ts_ms"))).over(w))
      .withColumn("nc",
        min(when(col("event_type") === FunnelB, col("ts_ms"))).over(w))
      .withColumn("npc",
        min(when(col("event_type") === FunnelB, col("np"))).over(w))
      .withColumn("level",
        when(col("event_type") === FunnelA,
          when(col("npc") <= dl, 3L)
            .when(col("nc") <= dl, 2L)
            .otherwise(1L)).otherwise(0L))
      .groupBy(col("user_id")).agg(max(col("level")).as("level"))
      .groupBy(col("level")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("level"))
  }

  /** A22: retention cohorts — the user-analytics matrix (cohort = first
    * active day, offset = days since, cell = distinct users active at that
    * offset). ONE user-grain shuffle does everything: groupBy(user) with a
    * map-side-deduping collect_set(day) (partial aggregation collapses a
    * user's events to ≤|day-domain| entries per map task), cohort =
    * array_min, offsets explode from the per-user day set, and the matrix
    * census is a |days|²-row aggregate. Per-user state is bounded by the
    * calendar domain (31 days here); for an unbounded horizon swap the
    * collect_set for the distinct + window-min form — same two-shuffle
    * shape, no per-user array. */
  def a22RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    val byUser = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("days"))
      .select(array_min(col("days")).as("cohort"),
        explode(col("days")).as("day"))
    byUser
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort"), col("offset_days"))
  }

  /** A25: conversion-latency percentiles per signup cohort — the
    * time-to-convert distribution (p50/p90 from first signup to first
    * at-or-after purchase, cohorted by signup day). EXACT percentiles
    * without per-cohort sorts: latencies land on a bounded minute grid
    * (LatBucketMs), the (cohort, bucket) HISTOGRAM is the only
    * user-cardinality aggregate, and the percentile is read off the
    * grid's running count — the cumulative window runs over GRID rows
    * (≤ minutes-in-domain per cohort), so a cohort with a billion users
    * costs the same window as one with a thousand. Percentile p =
    * smallest bucket whose running count reaches ceil(p·n/100), all
    * integer. Only signup/purchase events ever shuffle (two user-grain
    * partial-corpus aggregates + one user-keyed join that reuses the
    * partitioning); the latency rule is pure timestamp comparison
    * (first B with ts ≥ first-A ts), no same-ms tie-break dependence.
    * -1 marks a cohort with zero converts. */
  def a25ConversionLatency(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts_ms"), col("event_type"))
    val firstA = ev.where(col("event_type") === SeqEventA)
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("a_ts"))
    val firstB = ev.where(col("event_type") === SeqEventB)
      .join(firstA, Seq("user_id"))
      .where(col("ts_ms") >= col("a_ts"))
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("b_ts"))
    val cohorts = firstA.join(firstB, Seq("user_id"), "left")
      .select(expr("a_ts div 86400000").as("cohort"),
        when(col("b_ts").isNotNull,
          expr(s"(b_ts - a_ts) div $LatBucketMs")).as("lat_b"))
    val census = cohorts.groupBy(col("cohort"))
      .agg(count(lit(1)).as("n_users"), count(col("lat_b")).as("n_conv"))
    val cw = Window.partitionBy(col("cohort")).orderBy(col("lat_b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pcts = cohorts.where(col("lat_b").isNotNull)
      .groupBy(col("cohort"), col("lat_b")).agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cw))
      .join(census.select(col("cohort"), col("n_conv")), Seq("cohort"))
      .groupBy(col("cohort"))
      .agg(min(when(col("cum") >= expr("(n_conv * 50 + 99) div 100"),
          col("lat_b"))).as("p50"),
        min(when(col("cum") >= expr("(n_conv * 90 + 99) div 100"),
          col("lat_b"))).as("p90"))
    census.join(pcts, Seq("cohort"), "left")
      .select(col("cohort"), col("n_users"), col("n_conv"),
        coalesce(col("p50"), lit(-1L)).as("p50_bucket"),
        coalesce(col("p90"), lit(-1L)).as("p90_bucket"))
      .orderBy(col("cohort"))
  }

  /** A26: DAU/WAU — EXACT sliding-window distinct actives per day. The
    * classic scale trap: "distinct users over the trailing 7 days, per
    * day" re-counts each day's users 7 times (7 overlapping distincts,
    * or a distinct inside a sliding window — unbounded state). Exact
    * scalable form via INTERVAL UNION: one user-grain pass collapses a
    * user to their active-day set (bounded by the calendar domain —
    * a22's state argument), each active day a covers the 7 days [a, a+6]
    * and a user counts toward a day's WAU iff it lands in their COVERED
    * set, so per-user array math (union of intervals, deduped) turns the
    * sliding distinct into a plain per-day count of (user, covered-day)
    * rows — ≤ 7 per active day, exploded map-side, no distinct at day
    * grain and no window at all. DAU rides the same per-user day set.
    * Stickiness = DAU·10⁶ div WAU (integer). For an unbounded horizon
    * the per-user set swaps for sort-within-user + a lag-6 scan — same
    * single-shuffle shape. Output: one row per day with activity. */
  def a26ActiveUsers(s: SparkSession, d: String): DataFrame = {
    val byUser = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"))
      .groupBy(col("user_id"))
      .agg(collect_set(col("day")).as("days"))
      .select(col("days"),
        array_distinct(flatten(transform(col("days"),
          a => sequence(a, a + lit(6L))))).as("cov"))
      .persist()
    val dau = byUser.select(explode(col("days")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = byUser.select(explode(col("cov")).as("day"))
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
      .orderBy(col("day"))
  }

  /** A27: SESSION METRICS per day — the product-analytics census over
    * x3's gaps-and-islands sessions: sessions started, bounce rate
    * (single-event sessions, integer ppm), and EXACT p50/p90 session
    * duration via a25's bounded-histogram percentiles (durations land on
    * a minute grid; the cumulative window rides GRID rows, so a
    * billion-session day costs the same window as a thousand-session
    * one). One user-grain sort builds the sessions, one day-grain census
    * + one grid-bounded histogram does the rest — no per-day sort of
    * sessions anywhere. */
  def a27SessionMetrics(s: SparkSession, d: String): DataFrame = {
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("brk",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(ord) >
          X3SessionGapMs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_ms")).as("s_lo"), max(col("ts_ms")).as("s_hi"))
      .select(expr("s_lo div 86400000").as("day"),
        col("n_events"),
        expr(s"(s_hi - s_lo) div $LatBucketMs").as("dur_b"))
      .persist() // day census + duration histogram share the frame
    val census = sess.groupBy(col("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1, 1L).otherwise(0L)).as("bounces"))
    val cw = Window.partitionBy(col("day")).orderBy(col("dur_b"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val pcts = sess.groupBy(col("day"), col("dur_b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(cw))
      .join(census.select(col("day"), col("n_sessions")), Seq("day"))
      .groupBy(col("day"))
      .agg(min(when(col("cum") >= expr("(n_sessions * 50 + 99) div 100"),
          col("dur_b"))).as("p50_dur"),
        min(when(col("cum") >= expr("(n_sessions * 90 + 99) div 100"),
          col("dur_b"))).as("p90_dur"))
    census.join(pcts, Seq("day"))
      .select(col("day"), col("n_sessions"),
        expr("bounces * 1000000 div n_sessions").as("bounce_ppm"),
        col("p50_dur").as("p50_dur_min"), col("p90_dur").as("p90_dur_min"))
      .orderBy(col("day"))
  }

  /** A28: LTV COHORT CURVES — a22's retention matrix with the money
    * dimension: per (first-active-day cohort, day offset), active users,
    * that offset's revenue, and the RUNNING cumulative revenue — the
    * curve a growth model reads LTV off. Value must ride event rows (the
    * per-user day-set trick a22 uses can't carry sums), so the shape is
    * two user-grain passes: a first-day aggregate and the cohort join —
    * both on the user key, the join reusing the aggregate's partitioning.
    * All money stays DECIMAL(18,2) through every sum INCLUDING the
    * running window (decimal addition is associative, so engines are free
    * to disagree on summation trees — a double running sum would be
    * order-hazardous under DuckDB's segment-tree windows); cast to
    * double only on output. The cumulative window rides the model-sized
    * matrix (≤ |days|² rows), not events. */
  def a28LtvCohorts(s: SparkSession, d: String): DataFrame = {
    val b = Tables.events(s, d)
      .select(col("user_id"), expr("ts_ms div 86400000").as("day"),
        col("value"))
    val firstDay = b.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort"))
    val cells = b.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort"), (col("day") - col("cohort")).as("offset_days"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).as("rev_d"))
    val w = Window.partitionBy(col("cohort")).orderBy(col("offset_days"))
      .rowsBetween(Window.unboundedPreceding, 0)
    cells.withColumn("cum_d", sum(col("rev_d")).over(w))
      .select(col("cohort"), col("offset_days"), col("n_users"),
        col("rev_d").cast("double").as("revenue"),
        col("cum_d").cast("double").as("cum_revenue"))
      .orderBy(col("cohort"), col("offset_days"))
  }

  /** A8: hierarchical rollup — revenue subtotals at (status, priority),
    * (status), and grand-total levels in one pass. */
  def a8Rollup(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** A10: CUBE — all four grouping combinations in one pass (rollup's
    * superset; Spark plans one Expand + one aggregate, not four scans). */
  def a10Cube(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
      .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))

  /** W7: the full ranking-function family in one query — rank, dense_rank,
    * ntile quartiles of document length per language (row_number is
    * exercised everywhere else). rank/dense_rank run over the ties-allowed
    * order (their outputs depend only on the key VALUES, so equal lengths
    * share a rank deterministically); ntile is positional, so it takes the
    * fully tie-broken order. */
  def w7Ranks(s: SparkSession, d: String): DataFrame = {
    val wTies = Window.partitionBy(col("lang")).orderBy(col("n_chars").desc)
    val wTotal = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        rank().over(wTies).cast("long").as("rnk"),
        dense_rank().over(wTies).cast("long").as("drnk"),
        ntile(4).over(wTotal).cast("long").as("quartile"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** W5: rolling frame — trailing 3-event moving average per user
    * (rowsBetween frame spec). */
  def w5RollingStats(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(-2, Window.currentRow)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        round(avg(col("value")).over(w), 6).as("mavg3"),
        count(lit(1)).over(w).as("nwin"))
      .orderBy(col("event_id"))
  }

  /** W15: grid resample + linear interpolation — the time-series
    * regularization every downstream model assumes someone did: irregular
    * observations → per-series hourly means on the fixed range grid, with
    * missing grid points filled by LINEAR interpolation between the
    * bracketing observations (leading/trailing gaps carry the nearest
    * observation, flagged bfill/ffill — no invented slope off the edge).
    * Complements the gap ENGINE (w1-w4 plans what to re-fetch; this
    * serves a dense series NOW from what's already on hand).
    *
    * Scale shape: one (series, hour) partial-agg shuffle, then every
    * window rides the fixed 720-hour GRID per series (a25/a27's rule:
    * grid-bounded frames, never data-cardinality ones); the grid explode
    * is |series|×720. Numeric seams closed the sn1 way: per-event values
    * quantize to micro-units BEFORE summing (longs — partial-agg order
    * can't wiggle a double), the hourly mean is one integer floor-div on
    * non-negative sums, and the interpolation is a single fixed-shape
    * double expression over exact integer inputs — both engines evaluate
    * the identical IEEE tree. */
  def w15Interpolate(s: SparkSession, d: String): DataFrame = {
    val gridHours = (RangeEndMs - RangeStartMs) / HourMs
    val obs = Tables.events(s, d)
      .select(col("event_type"),
        ((col("ts_ms") - lit(RangeStartMs)) / HourMs).cast("long").as("h"),
        floor(col("value") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("v6"))
      .groupBy(col("event_type"), col("h"))
      .agg(count(lit(1)).as("n_obs"), expr("sum(v6) div count(1)").as("m"))
    val grid = obs.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(gridHours - 1L))).as("h"))
    val wp = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wn = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val filled = grid.join(obs, Seq("event_type", "h"), "left")
      .withColumn("pm", last(col("m"), ignoreNulls = true).over(wp))
      .withColumn("ph", last(when(col("m").isNotNull, col("h")),
        ignoreNulls = true).over(wp))
      .withColumn("nm", first(col("m"), ignoreNulls = true).over(wn))
      .withColumn("nh", first(when(col("m").isNotNull, col("h")),
        ignoreNulls = true).over(wn))
    val vMicro =
      when(col("m").isNotNull, col("m").cast("double"))
        .when(col("pm").isNotNull && col("nm").isNotNull,
          col("pm").cast("double") +
            (col("nm") - col("pm")).cast("double") *
            (col("h") - col("ph")).cast("double") /
            (col("nh") - col("ph")).cast("double"))
        .when(col("pm").isNotNull, col("pm").cast("double"))
        .otherwise(col("nm").cast("double"))
    filled.select(col("event_type"), col("h"),
      coalesce(col("n_obs"), lit(0L)).as("n_obs"),
      round(vMicro / lit(1000000.0), 6).as("value"),
      when(col("m").isNotNull, "obs")
        .when(col("pm").isNotNull && col("nm").isNotNull, "interp")
        .when(col("pm").isNotNull, "ffill").otherwise("bfill").as("src"))
      .orderBy(col("event_type"), col("h"))
  }

  /** W8: offset + frame-edge window functions — lead, first/last value
    * over explicit frames, percent_rank (value-dependent, so deterministic
    * under ties like rank). Completes the window family beside LAG (w1),
    * frames (w5), sessions (w6), ranks (w7). */
  def w8FrameEdges(s: SparkSession, d: String): DataFrame = {
    val wT = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val wFirst = wT.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wLast = wT.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wVal = Window.partitionBy(col("user_id")).orderBy(col("value"))
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("value"),
        lead(col("value"), 1).over(wT).as("next_value"),
        first(col("value")).over(wFirst).as("first_value"),
        last(col("value")).over(wLast).as("last_value"),
        round(percent_rank().over(wVal), 6).as("value_pct"))
      .orderBy(col("event_id"))
  }

  /** W9 (streaming semantics through the oracle): watermarked tumbling
    * event-time windows — the Structured Streaming core — driven through
    * [[graft.streaming.EventWindowStream]] as three deterministic
    * deliveries and hash-checked against a DuckDB twin that REPLAYS the
    * watermark algebra (per-batch max event time in ms minus the delay,
    * late rows dropped when their window end is at or under the
    * pre-batch watermark, append-mode emission once the final watermark
    * passes a window's end).
    *
    * Delivery plan (all deterministic): events split into three batches
    * by event-time decade (days [0,10)/[10,20)/rest), and every
    * `event_id % 11 = 0` row is DISPLACED one batch later — genuine late
    * data whose fate (counted vs dropped) the watermark decides. Batches
    * arrive as sequential `deliver` calls against one checkpoint, so the
    * watermark carries across calls through the commit log. */
  def w9StreamWindows(s: SparkSession, d: String): DataFrame = {
    // events.ts is parquet timestamp[ns] → LONG nanoseconds under the
    // session's nanosAsLong (see Tables.events); µs by integer div
    val raw = s.read.parquet(s"$d/events.parquet")
    val usCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    val ev = raw.select(col("event_id"), usCol.as("us"), col("value"))
      .withColumn("rel_ms", expr("us div 1000") - RangeStartMs)
    val dayMs = 86400000L
    val base = when(col("rel_ms") < 10 * dayMs, 0)
      .when(col("rel_ms") < 20 * dayMs, 1).otherwise(2)
    val batchCol = least(base + when(col("event_id") % 11 === 0, 1)
      .otherwise(0), lit(2))
    val lines = ev.select(col("event_id"), batchCol.as("batch"),
      concat_ws("\t", col("event_id"), col("us"), col("value"))
        .as("value_line"))
    val root = scratchDir("w9q")
    val drop = root.resolve("drop")
    java.nio.file.Files.createDirectories(drop)
    val sink = root.resolve("sink").toString
    for (b <- 0 to 2) {
      lines.where(col("batch") === b)
        .orderBy(col("event_id")).select(col("value_line"))
        .coalesce(1).write.mode("append").text(drop.toString)
      // one lifecycle PER delivery, deliberately: the late-record filter
      // inside a single run lags one batch (see EventDedupStreamSpec's
      // in-run watermark-lag spec), so the restart-per-delivery form is
      // what this oracle's watermark algebra replays
      graft.streaming.EventWindowStream.deliver(s, drop.toString,
        root.resolve("ckpt").toString, sink,
        delay = "2 hours", windowDur = "1 day",
        // state sized to the fixture stream (see StreamConf scaladoc)
        statePartitions = 8)
    }
    s.read.parquet(sink)
      .select(col("win_start"), col("n_events"), col("total_value"))
      .orderBy(col("win_start"))
  }

  /** W10 (streaming semantics through the oracle, part 2): per-user
    * event-time SESSION windows with a watermark — the data-dependent
    * stateful shape (sessions merge across micro-batches in state, unlike
    * w9's fixed tumbling grid). Delivery: three event-time decades;
    * `event_id % 11 = 0` rows of the FIRST decade are displaced TWO
    * batches (arriving when the watermark is ~day 20, so their
    * provisional sessions end far under it — every displaced row is
    * deterministically dropped). Only first-decade rows are displaced, by
    * construction: an emitted session's last event is at least
    * `delay + gap` older than any later batch's on-time rows, so no kept
    * row can ever merge into an already-emitted-and-evicted session —
    * which is exactly what makes the oracle replay closed-form (global
    * session merge over kept rows) instead of a state-machine simulation.
    * Sessions still merge across the day-10/day-20 batch boundaries in
    * state, and append mode emits a session once the final watermark
    * passes its end. */
  def w10StreamSessions(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    val usCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    val ev = raw.select(col("event_id"), usCol.as("us"), col("user_id"),
        col("value"))
      .withColumn("rel_ms", expr("us div 1000") - RangeStartMs)
    val dayMs = 86400000L
    val base = when(col("rel_ms") < 10 * dayMs, 0)
      .when(col("rel_ms") < 20 * dayMs, 1).otherwise(2)
    val batchCol = when(base === 0 && col("event_id") % 11 === 0, 2)
      .otherwise(base)
    val lines = ev.select(col("event_id"), batchCol.as("batch"),
      concat_ws("\t", col("event_id"), col("us"), col("user_id"),
        col("value")).as("value_line"))
    val root = scratchDir("w10q")
    val drop = root.resolve("drop")
    java.nio.file.Files.createDirectories(drop)
    val sink = root.resolve("sink").toString
    for (b <- 0 to 2) {
      lines.where(col("batch") === b)
        .orderBy(col("event_id")).select(col("value_line"))
        .coalesce(1).write.mode("append").text(drop.toString)
      graft.streaming.EventWindowStream.deliverSessions(s, drop.toString,
        root.resolve("ckpt").toString, sink,
        delay = "2 hours", gap = "1 day", statePartitions = 8)
    }
    s.read.parquet(sink)
      .select(col("user_id"), col("sess_start"), col("sess_end"),
        col("n_events"), col("total_value"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  /** W11 (streaming semantics through the oracle, part 3): streaming
    * DEDUPLICATION with state TTL — `dropDuplicatesWithinWatermark` over
    * the same three-decade sequential delivery as w9. Four delivery
    * classes exercise every state path: (a) every `id % 5 = 0` row is
    * delivered TWICE in its batch (in-batch state drop, payload-identical
    * so the winner is immaterial); (b) every `id % 3 = 0, % 11 ≠ 0` row is
    * re-delivered VERBATIM one batch later — if on time its state is
    * provably alive (us > wm ⇒ us + delay > wm), if late it drops without
    * touching state, so BOTH paths drop and the oracle needs no boundary
    * rule for them; (c) w9's `id % 11 = 0` displacement makes some FIRST
    * deliveries late — kept iff strictly above the watermark (the only
    * boundary-sensitive class, same µs rule as w9); (d) every
    * `id % 13 = 0, % 11 ≠ 0` decade-0 key RE-OCCURS in batch 2 displaced
    * +25 days — its state (us₀ + 2 h) is ~18 days under the batch-2
    * watermark, so the key is kept AGAIN: the state-TTL path no
    * fixed-window dedup can express. The closed-form replay: non-late
    * deliveries grouped by (key, event-time) — class-b copies collapse
    * into their originals, class-d re-occurrences survive as second rows. */
  def w11StreamDedup(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    val usCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    val ev = raw.select(col("event_id"), usCol.as("us"), col("value"))
      .withColumn("rel_ms", expr("us div 1000") - RangeStartMs)
    val dayMs = 86400000L
    val base = when(col("rel_ms") < 10 * dayMs, 0)
      .when(col("rel_ms") < 20 * dayMs, 1).otherwise(2)
    val batchCol = least(base + when(col("event_id") % 11 === 0, 1)
      .otherwise(0), lit(2))
    val orig = ev.select(col("event_id"), col("us"), col("value"),
      batchCol.as("batch"))
    val dupSame = orig.where(col("event_id") % 5 === 0)
    val dupNext = orig
      .where(col("event_id") % 3 === 0 && col("event_id") % 11 =!= 0 &&
        col("batch") < 2)
      .withColumn("batch", col("batch") + 1)
    val reoccur = ev
      .where(base === 0 && col("event_id") % 13 === 0 &&
        col("event_id") % 11 =!= 0)
      .select(col("event_id"), (col("us") + lit(25L * dayMs * 1000L)).as("us"),
        col("value"), lit(2).as("batch"))
    val lines = orig.unionByName(dupSame).unionByName(dupNext)
      .unionByName(reoccur)
      .select(col("event_id"), col("batch"),
        concat_ws("\t", col("event_id"), col("us"), col("value"))
          .as("value_line"))
    val root = scratchDir("w11q")
    val drop = root.resolve("drop")
    java.nio.file.Files.createDirectories(drop)
    val sink = root.resolve("sink").toString
    for (b <- 0 to 2) {
      lines.where(col("batch") === b)
        .orderBy(col("event_id")).select(col("value_line"))
        .coalesce(1).write.mode("append").text(drop.toString)
      graft.streaming.EventWindowStream.deliverDedup(s, drop.toString,
        root.resolve("ckpt").toString, sink, delay = "2 hours",
        statePartitions = 8)
    }
    s.read.parquet(sink)
      .select(col("event_id"), col("ts_us"), col("value"))
      .orderBy(col("event_id"), col("ts_us"))
  }

  /** W12 (streaming semantics through the oracle, part 4): stream-STREAM
    * interval join — events split by id parity into two streams, joined on
    * user id within ±30 min of event time, both sides watermarked (2 h).
    * Cross-batch matches at the decade boundaries come from buffered join
    * STATE — the surface this exercises beyond w9-w11. The oracle is
    * closed-form because the construction separates the cases: decade-0
    * `id % 11 = 0` rows are displaced TWO batches (w10's trick — they
    * arrive ≥10 days under the watermark on either side, dropped pre-join,
    * and never match), and for everything on time delay > interval proves
    * buffered state is still alive for any feasible match: a partner
    * on time in batch b has ts > max_{b-1} − 2 h, so a row within 30 min
    * of it has ts > max_{b-1} − 2.5 h, strictly above the eviction cut
    * (wm − 30 min = max_{b-1} − 2.5 h). Replay = plain interval join over
    * the non-displaced rows. */
  def w12StreamJoin(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    val usCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    val ev = raw.select(col("event_id"), usCol.as("us"), col("user_id"))
      .withColumn("rel_ms", expr("us div 1000") - RangeStartMs)
    val dayMs = 86400000L
    // TWO deliveries (was three): batch 0 = days [0,15), batch 1 = the
    // rest, and the displaced-late rows are %11 rows from days [0,13)
    // redelivered in batch 1. wm1 = max batch-0 event time − 2 h ≈ day 15
    // − 2 h, so every displaced row sits ≥ 2 days − 2 h under the
    // watermark — a margin ≫ delay (2 h) + interval (30 min), hence
    // dropped at the join input on its side with no boundary
    // partial-match window. The old form displaced ALL first-decade %11
    // rows, leaving some within 2 h of wm1, which forced a two-batch
    // displacement and therefore a THIRD lifecycle; bounding the
    // displaced rows' event time buys the same closed-form drop guarantee
    // one ~3 s dual-stream lifecycle cheaper.
    val base = when(col("rel_ms") < 15 * dayMs, 0).otherwise(1)
    val batchCol = when(base === 0 && col("rel_ms") < 13 * dayMs &&
      col("event_id") % 11 === 0, 1).otherwise(base)
    val lines = ev.select(col("event_id"), batchCol.as("batch"),
      (col("event_id") % 2).as("side"),
      concat_ws("\t", col("event_id"), col("us"), col("user_id"))
        .as("value_line"))
    val root = scratchDir("w12q")
    val dropA = root.resolve("dropA"); val dropB = root.resolve("dropB")
    java.nio.file.Files.createDirectories(dropA)
    java.nio.file.Files.createDirectories(dropB)
    val sink = root.resolve("sink").toString
    for (b <- 0 to 1) {
      for ((side, dir) <- Seq(0 -> dropA, 1 -> dropB)) {
        lines.where(col("batch") === b && col("side") === side)
          .orderBy(col("event_id")).select(col("value_line"))
          .coalesce(1).write.mode("append").text(dir.toString)
      }
      graft.streaming.EventWindowStream.deliverJoin(s, dropA.toString,
        dropB.toString, root.resolve("ckpt").toString, sink,
        delay = "2 hours", statePartitions = 8)
    }
    s.read.parquet(sink)
      .select(col("user_id"), col("a_id"), col("b_id"), col("us_a"),
        col("us_b"))
      .orderBy(col("user_id"), col("a_id"), col("b_id"))
  }

  /** W13: SCD2 dimension-history build — the type-2 slowly-changing
    * dimension load the reference approximates destructively with
    * UNIQUE-key REPLACE upserts (`src/db/doris_db.py` Stream Load): here
    * history is kept. Per user the event_type stream is change-detected
    * (lag over the (ts, event_id) total order) and each surviving change
    * point becomes a versioned validity interval [valid_from, valid_to)
    * closed by the next change, with the open current row closed at the
    * range end. Scale shape: both window passes share ONE partitioning and
    * sort on (user_id | ts, event_id), so Catalyst plans a single Exchange
    * + Sort feeding both Window operators — a linear per-key scan, not the
    * textbook self-join; per-user state is one row of look-behind, so a
    * 1000-executor run streams each key group once. */
  /** W16 (streaming semantics through the oracle, part 5): streaming
    * NEAR-DUP ADMISSION — the build/serve dedup split (d15/pipe13) on the
    * streaming plane with index APPEND-BACK. Even doc_ids build the
    * batch-tagged shingle-MinHash base index (a staged artifact — the
    * "yesterday" corpus); odd doc_ids stream in `W16Batches` ordered
    * micro-batches (batch = (doc_id div 2) mod 3). Per batch
    * ([[Dedup.admitBatch]]): reject docs near-duplicating the index
    * (base + EVERYTHING ADMITTED BEFORE — the append-back surface) or a
    * smaller-id batch-mate; append survivors' bands+toks back to the
    * index. The DuckDB oracle unrolls all three admission rounds from
    * scratch (signature → bands → candidates → shingle-set verify,
    * chained through the admitted sets), so a single wrongly-admitted or
    * wrongly-rejected doc in ANY round — including a missed cross-batch
    * rejection that only exists because of append-back — hash-fails.
    * Each bench run copies the staged base index into a scratch dir
    * (appends must not leak across runs; at production the appends ARE
    * the live index, the copy is bench idempotency only). */
  def w16StreamAdmission(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val baseIdx = stagedDir("w16base", d) { root =>
      Dedup.writeTaggedIndex(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "text", s"$root/idx", MinhashK, MinhashBands,
        W16ShingleK, tag = -1L, org.apache.spark.sql.SaveMode.Overwrite)
    } + "/idx"
    val root = scratchDir("w16q")
    val idx = root.resolve("idx")
    // bench-run isolation: copy the staged base, stream appends into the
    // copy (see copyTree)
    copyTree(java.nio.file.Paths.get(baseIdx), idx)
    // the drop dir is a memoized staged artifact (see stagedDropDir);
    // repartition(1): hash-clustering by batch value cannot guarantee
    // one file per dir; a single task writing all three dirs can (the
    // staging frame is fixture-prep, delta-sized, not the operator)
    val drop = stagedDropDir("w16drop", d, W16Batches, "txt",
      allowEmpty = true) { tmp =>
        docs.where(col("doc_id") % 2 === 1)
          .select((expr("doc_id div 2") % W16Batches).as("batch"),
            concat_ws("\t", col("doc_id"), col("text")).as("value_line"))
          .repartition(1).sortWithinPartitions(col("value_line"))
          .write.mode("overwrite").partitionBy("batch").text(tmp)
    }
    val sink = root.resolve("sink").toString
    graft.streaming.DocStream.admitNearDup(s, drop,
      root.resolve("ckpt").toString, idx.toString, sink,
      MinhashK, MinhashBands, W16ShingleK, MinhashThreshold,
      statePartitions = 8)
      .awaitTermination()
    s.read.parquet(sink).select(col("doc_id"), col("batch"))
      .distinct().orderBy(col("doc_id"))
  }

  /** W20 (streaming semantics through the oracle, part 7): streaming ANN
    * NEAR-DUP ADMISSION — w16's admission contract moved onto the VECTOR
    * plane: the online form of d10/d5 that a production embedding-ingest
    * pipeline runs continuously against its serving IVF index. Even
    * vec_ids build the batch-tagged base index (the "yesterday" corpus,
    * cell-assigned under the frozen NumCentroids quantizer); odd vec_ids
    * stream in `W20Batches` ordered micro-batches (batch = (vec_id div 2)
    * mod W20Batches) as parquet drop files (bit-lossless float round
    * trip). Per batch ([[Similarity.admitVecBatch]]): probe the W20Probe
    * nearest cells, reject vectors with a cosine >= SemThreshold candidate
    * in the index (base + EVERYTHING ADMITTED BEFORE — the append-back
    * surface) or a smaller-id batch-mate whose stored cell is probed;
    * append survivors' (v, nrm, cell) rows back to the index. The DuckDB
    * oracle unrolls all three admission rounds from scratch (probe
    * assignment → candidate cells → round-6 cosine verify, chained
    * through the admitted sets), so a single wrongly-admitted or
    * wrongly-rejected vector in ANY round — including a missed
    * cross-batch rejection that only exists because of append-back —
    * hash-fails. Each bench run copies the staged base index into a
    * scratch dir (appends must not leak across runs). */
  def w20VectorAdmission(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val baseIdx = stagedDir("w20base", d) { root =>
      Similarity.writeVecIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", s"$root/idx", cents, tag = -1L,
        org.apache.spark.sql.SaveMode.Overwrite)
    } + "/idx"
    val root = scratchDir("w20q")
    val idx = root.resolve("idx")
    // bench-run isolation: copy the staged base, stream appends into the
    // copy (see copyTree)
    copyTree(java.nio.file.Paths.get(baseIdx), idx)
    // the drop dir is a memoized staged artifact (see stagedDropDir)
    val drop = stagedDropDir("w20drop", d, W20Batches, "parquet") { tmp =>
      Tables.embeddings(s, d).where(col("vec_id") % 2 === 1)
        .select(col("vec_id"), col("embedding"),
          (expr("vec_id div 2") % W20Batches).as("batch"))
        .repartition(1).sortWithinPartitions(col("vec_id"))
        .write.mode("overwrite").partitionBy("batch").parquet(tmp)
    }
    val sink = root.resolve("sink").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    graft.streaming.VecStream.admitNearDup(s, drop,
      root.resolve("ckpt").toString, idx.toString, sink, cents,
      W20Probe, SemThreshold, schema)
      .awaitTermination()
    s.read.parquet(sink).select(col("vec_id"), col("batch"))
      .distinct().orderBy(col("vec_id"))
  }

  /** W21 (streaming semantics through the oracle, part 9): the streaming
    * QUANTIZER-REFRESH lifecycle — the r15 verdict's one named 100 TB
    * caveat closed. All three admission planes (w20/m7/d10's semantic
    * side) previously ran against a FROZEN coarse quantizer forever; at
    * 100 TB that degrades probe selectivity monotonically as admitted
    * data drifts (m7's own ×16 probe measured the density cost). This
    * query runs TWO full admission lifecycles across a refresh boundary:
    *
    *   epoch 0: w20's admission under the frozen base quantizer Q0;
    *   boundary: Q1 = ONE exact-decimal Lloyd step over the index's
    *     STORED assignments ([[Similarity.refreshQuantizer]] — the
    *     assignment pass is free because the index stores rank-1 cells),
    *     then the index is REBUILT under Q1's cells into an
    *     epoch-namespaced root ([[Similarity.rebuildVecIndex]] — same
    *     membership, same batch_id tags, new `cell=` layout so the
    *     partition-pruned serving contract holds against the model that
    *     serving actually probes with);
    *   epoch 1: the same admission engine, NEW checkpoint lifecycle,
    *     probing Q1 against the rebuilt index (tag namespace epoch=1 —
    *     micro-batch ids restart at 0 per checkpoint, the
    *     [[Similarity.admitVecBatch]] epoch seam).
    *
    * Replay determinism survives the boundary because the refresh runs
    * BETWEEN lifecycles, never under one: within an epoch every batch
    * probes one immutable model, and a replayed epoch-1 batch excludes
    * its own (epoch-namespaced) tag exactly as before — RequantSpec runs
    * an epoch-1 batch twice across the boundary and pins the end state.
    *
    * The result carries each admitted vector's FINAL stored cell (the
    * rebuild reassigned epoch-0 admissions too), so the DuckDB twin must
    * reproduce the refreshed model NUMERICALLY: it unrolls both epochs
    * from scratch — epoch-0 rounds under Q0, the decimal-sum/round-6
    * per-cell means (the s9 rule: decimal addition is exact, so partial
    * aggregation order cannot perturb the model), the rebuild
    * re-assignment, then epoch-1 rounds under Q1 — and a single
    * wrongly-refreshed centroid component moves cells and hash-fails. */
  def w21StreamRequant(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents0 = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val baseIdx = stagedDir("w21base", d) { root =>
      Similarity.writeVecIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", s"$root/idx", cents0, tag = -1L,
        org.apache.spark.sql.SaveMode.Overwrite)
    } + "/idx"
    val root = scratchDir("w21q")
    val idx0 = root.resolve("idx_e0")
    // bench-run isolation: copy the staged base, stream appends into the
    // copy (see copyTree)
    copyTree(java.nio.file.Paths.get(baseIdx), idx0)
    // the drop dirs are memoized staged artifacts (see stagedDropDir),
    // one per epoch — epoch/batch residues interleave the odd ids so
    // cross-batch admission interactions exist in BOTH epochs
    val drops = (0 until W21Epochs).map { e =>
      stagedDropDir(s"w21drop_e$e", d, W21Batches, "parquet") { tmp =>
        Tables.embeddings(s, d)
          .where(col("vec_id") % 2 === 1 &&
            (expr("vec_id div 2") % W21Epochs) === e)
          .select(col("vec_id"), col("embedding"),
            (expr("vec_id div 4") % W21Batches).as("batch"))
          .repartition(1).sortWithinPartitions(col("vec_id"))
          .write.mode("overwrite").partitionBy("batch").parquet(tmp)
      }
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.FloatType))))
    // epoch 0: admit under the frozen base quantizer
    graft.streaming.VecStream.admitNearDup(s, drops(0),
      root.resolve("ckpt_e0").toString, idx0.toString,
      root.resolve("sink_e0").toString, cents0, W21Probe, SemThreshold,
      schema, epoch = 0L).awaitTermination()
    // epoch boundary: refresh the model off the index's own stored
    // assignments, rebuild the serving layout under the new cells
    val cents1 = Similarity.refreshQuantizer(s, idx0.toString, cents0,
      EmbeddingDim)
    val idx1 = root.resolve("idx_e1")
    Similarity.rebuildVecIndex(s, idx0.toString, idx1.toString, cents1)
    // epoch 1: the same engine, new checkpoint lifecycle, refreshed model
    graft.streaming.VecStream.admitNearDup(s, drops(1),
      root.resolve("ckpt_e1").toString, idx1.toString,
      root.resolve("sink_e1").toString, cents1, W21Probe, SemThreshold,
      schema, epoch = 1L).awaitTermination()
    // every admitted vector with its admitting epoch/batch and its FINAL
    // stored cell under the refreshed quantizer — the join pins the
    // refresh arithmetic itself, not just the admission outcomes
    val finalCells = s.read.parquet(s"$idx1/vecs")
      .select(col("id").as("vec_id"), col("cell").cast("long").as("cell"))
      // read-side-distinct replay contract: a replayed post-refresh batch
      // leaves byte-equal duplicate (id, cell) rows in the index, and this
      // join is NOT an anti-join — duplicates would multiply result rows
      .distinct()
    val adm = (0 until W21Epochs).map { e =>
      s.read.parquet(root.resolve(s"sink_e$e").toString)
        .select(col("vec_id"), lit(e.toLong).as("epoch"), col("batch"))
    }.reduce(_ unionByName _).distinct()
    adm.join(finalCells, Seq("vec_id"))
      .select(col("vec_id"), col("epoch"), col("batch"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** M7 (streaming semantics through the oracle, part 8): STREAMING
    * MULTIMODAL ADMISSION — the m-family's missing plane (r14 verdict
    * item 7): m2's sha256 exact-dup gate, m3's byte-lane feature
    * extraction, w20's vector-admission discipline on the features, and
    * m6-style shard-manifest deltas, composed per micro-batch by
    * [[graft.operators.MediaSpine.ingestBatch]]. Payloads are the text
    * bytes (the m1/m2 opaque-binary convention); even doc_ids build the
    * base sha store + feature index (the "yesterday" corpus under the
    * frozen M7Centroids quantizer); odd doc_ids stream in M7Batches
    * ordered micro-batches (batch = (doc_id div 2) % M7Batches) as
    * parquet drop files (binary-clean round trip). The DuckDB oracle
    * unrolls all three admission rounds from scratch — sha chain,
    * staged feature arithmetic, probe assignment, cosine verify,
    * ledgered through the exact-fresh and admitted sets — and recomputes
    * every census grain (funnel counts, per-doc admit rows, the
    * cross-batch shard-manifest rollup with its order-independent
    * digest), so a single wrongly-gated payload in ANY round, or one
    * wrong manifest cell, hash-fails. Each bench run copies the staged
    * base stores into a scratch dir (appends must not leak across
    * runs). */
  def m7StreamMedia(s: SparkSession, d: String): DataFrame = {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    val feats = Multimodal.stagedFeatures(payloads, "doc_id", "payload")
    val cents = Similarity.collectCentroids(
      feats.where(col("doc_id") < M7Centroids), "doc_id", "f")
    val base = stagedDir("m7base", d) { root =>
      payloads.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("id"),
          sha2(col("payload"), 256).as("sha"))
        .select(concat(lit("p"), substring(col("sha"), 1, 1)).as("spp"),
          col("sha"), col("id"), lit(-1L).as("batch_id"))
        .repartition(col("spp"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("spp").parquet(s"$root/sha")
      Similarity.writeVecIndex(
        feats.where(col("doc_id") % 2 === 0), "doc_id", "f",
        s"$root/vecIdx", cents, tag = -1L,
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    val root = scratchDir("m7q")
    val sha = root.resolve("sha"); val vecIdx = root.resolve("vecIdx")
    // bench-run isolation: copy the staged base stores, stream appends
    // into the copies (see copyTree)
    copyTree(java.nio.file.Paths.get(base), root)
    // the drop dir is a memoized staged artifact (see stagedDropDir)
    val drop = stagedDropDir("m7drop", d, M7Batches, "parquet") { tmp =>
      val odds = payloads.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("payload"),
          (expr("doc_id div 2") % M7Batches).as("batch"))
      // re-delivery synthesis (see QuerySpec.M7RedeliverMod): the same
      // bytes re-ingested next batch under a fresh id — the exact
      // gate's production trigger, absent from the fixture's odd docs
      // below sf0.1
      val redelivered = odds
        .where(col("doc_id") % M7RedeliverMod === 0 &&
          col("batch") < M7Batches - 1)
        .select((col("doc_id") + M7RedeliverOffset).as("doc_id"),
          col("payload"), (col("batch") + 1).as("batch"))
      odds.unionByName(redelivered)
        .repartition(1).sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite").partitionBy("batch").parquet(tmp)
    }
    val census = root.resolve("census").toString
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("payload",
        org.apache.spark.sql.types.BinaryType)))
    graft.streaming.MediaStream.admitMedia(s, drop,
      root.resolve("ckpt").toString, sha.toString, vecIdx.toString,
      census, cents, M7Probe, M7Threshold, M7Shards, schema,
      statePartitions = 8)
      .awaitTermination()
    val rows = s.read.parquet(census).distinct()
    val passthrough = rows.where(col("section").isin("funnel", "admit"))
      .select(col("section"), col("k"), col("cnt"), col("toks"),
        col("aux"))
    val shardRoll = rows.where(col("section") === "shard")
      .groupBy(col("k"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("toks")).as("toks"),
        sum(col("aux")).as("aux"))
      .select(lit("shard").as("section"), col("k"), col("cnt"),
        col("toks"), col("aux"))
    passthrough.unionByName(shardRoll)
      .orderBy(col("section"), col("k"))
  }

  /** W17: OHLCV candle ROLLUP — the interval-upsample the reference
    * never computes because its exchanges serve every interval over HTTP
    * (`_base_.py` fetches 1m/1h/1d separately); engine-side, 1h candles
    * from the finest grain are one aggregation, which at 100 TB replaces
    * a second network corpus with a groupBy. Open/close are elected by
    * `min/max(struct(ts, event_id, value))` — the (ts, event_id) total
    * order rides INSIDE the aggregate, so the plan is a pure two-phase
    * hash agg with map-side partials and NO window sort (w13 pays one
    * sort for lag semantics; a candle doesn't need it). Volume sums in
    * integer micro-units (the cross-engine rule: never order-dependent
    * double addition); high/low/open/close are SELECTIONS of stored
    * doubles, exact on both engines. */
  def w17OhlcvCandles(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_type").as("series"), col("event_id"),
        col("ts_ms"), col("value"))
      .withColumn("hour_ms", expr(s"(ts_ms div $HourMs) * $HourMs"))
    ev.groupBy(col("series"), col("hour_ms"))
      .agg(
        min(struct(col("ts_ms"), col("event_id"), col("value")))
          .getField("value").as("open"),
        max(struct(col("ts_ms"), col("event_id"), col("value")))
          .getField("value").as("close"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        sum(expr("cast(floor(value * 1000000 + 0.5) as bigint)"))
          .as("volume_micro"),
        count(lit(1)).as("n_trades"))
      .orderBy(col("series"), col("hour_ms"))
  }

  /** W18: multi-interval candle CASCADE — 1m candles from the raw ticks,
    * 1h candles from the 1m CANDLES, 1d candles from the 1h CANDLES,
    * matching the reference's three `kline_{1m,1h,1d}` tables
    * (`_base_.py:311` + `constants.py:16-19`), which it populates by
    * fetching each interval separately over HTTP. Engine-side the coarser
    * grains DERIVE from the finer: OHLCV is a mergeable aggregate once
    * each candle carries its first/last tick keys (f_ts, f_eid, l_ts,
    * l_eid) — coarse open = open of the child with the smallest
    * (f_ts, f_eid), coarse close = close of the child with the largest
    * (l_ts, l_eid), elected via `min/max(struct(...))` exactly like w17,
    * so every level stays a pure two-phase hash agg with map-side
    * partials and ZERO window sorts (the same mergeability trick as the
    * a21 sketch rollup, applied to candles). At 100 TB this is the whole
    * point: the day query reads the 1m candle STORE — three orders of
    * magnitude smaller than the tick corpus — and never re-scans raw.
    * The output is the 1d grain; the DuckDB twin computes day candles
    * DIRECTLY from the raw events, so hash equality PROVES the cascade
    * associative (cascade ≡ direct), not merely that two engines ran the
    * same rollup chain. */
  def w18CandleCascade(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Candles
    val ev = Tables.events(s, d)
      .select(col("event_type").as("series"), col("event_id"),
        col("ts_ms"), col("value"))
    val d1 = Candles.merge(Candles.merge(
      Candles.partials(ev, MinuteMs), HourMs), DayMs)
    d1.select(col("series"), col("bucket_ms").as("day_ms"),
      col("open"), col("close"), col("high"), col("low"),
      col("volume_micro"), col("n_trades"))
      .orderBy(col("series"), col("day_ms"))
  }

  /** W19: STREAMING candle maintenance — w17/w18's mergeable-candle
    * algebra ([[graft.operators.Candles]]) on the streaming plane: ticks
    * arrive in [[QuerySpec.W19Batches]] ordered micro-batches (sliced by
    * `event_id % batches`, so the SAME (series, minute) bucket receives
    * ticks from DIFFERENT batches and the cross-batch merge is genuinely
    * exercised); each batch rolls up to 1m PARTIAL candles that land in
    * the store under the batch's OWN partition (overwrite = crash-replay
    * idempotent with no tags and no read-modify-write — the partials are
    * a pure function of the batch); the serving read merges partials at
    * identity grain and cascades to 1h. The oracle is w17's batch SQL
    * VERBATIM (1h candles straight from the raw events), so hash equality
    * proves streaming ingest ≡ batch rollup — the candle analogue of
    * pipe2's stream/batch parity. At 100 TB each micro-batch writes only
    * its own candle-grain partition and a nightly k4-style compaction
    * bounds partials-per-bucket; the raw ticks are read exactly once. */
  def w19StreamCandles(s: SparkSession, d: String): DataFrame = {
    import graft.operators.Candles
    val root = scratchDir("w19")
    val drop = root.resolve("drop")
    java.nio.file.Files.createDirectories(drop)
    val ticks = Tables.events(s, d)
      .select(col("event_id"), col("ts_ms"),
        col("event_type").as("series"), col("value"))
      .withColumn("batch", (col("event_id") % W19Batches).cast("int"))
    // stage ONE parquet drop file per micro-batch with pinned mtimes —
    // the w16 fixture contract (file source orders by (mtime, path))
    locally {
      val tmp = root.resolve("stage")
      ticks.repartition(1)
        .write.mode("overwrite").partitionBy("batch").parquet(tmp.toString)
      import scala.jdk.CollectionConverters._
      for (b <- 0 until W19Batches) {
        val bDir = tmp.resolve(s"batch=$b")
        // fail loud if a batch residue class is empty (tiny/custom
        // fixture): partitionBy writes no dir for an absent class and a
        // bare .get would throw far from the cause (r12 ADVICE)
        require(java.nio.file.Files.isDirectory(bDir),
          s"w19 fixture: no events with event_id % $W19Batches == $b — " +
            s"batch dir $bDir absent; use a corpus covering every residue")
        val ls = java.nio.file.Files.list(bDir)
        val part = try ls.iterator().asScala
          .find(_.getFileName.toString.startsWith("part-"))
          .getOrElse(sys.error(
            s"w19 fixture: batch dir $bDir has no part- file"))
        finally ls.close()
        val f = drop.resolve(s"batch$b.parquet")
        java.nio.file.Files.move(part, f)
        // batch order rides the pinned mtime — fail loud if the pin fails
        // (r13 ADVICE: a silent fallback to near-identical staging mtimes
        // can scramble the batch↔file correspondence)
        require(f.toFile.setLastModified(1700000000000L + b * 1000L),
          s"could not pin mtime on drop file $f")
      }
    }
    val store = root.resolve("store").toString
    graft.streaming.CandleStream.mergeCandles(s, drop.toString,
      root.resolve("ckpt").toString, store, MinuteMs, statePartitions = 8)
      .awaitTermination()
    val partials = s.read.parquet(store).drop("batch")
    Candles.merge(Candles.merge(partials, MinuteMs), HourMs)
      .select(col("series"), col("bucket_ms").as("hour_ms"),
        col("open"), col("close"), col("high"), col("low"),
        col("volume_micro"), col("n_trades"))
      .orderBy(col("series"), col("hour_ms"))
  }

  def w13Scd2(s: SparkSession, d: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val changes = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(byTs))
      .where(col("prev").isNull || col("prev") =!= col("event_type"))
    changes
      .withColumn("version", row_number().over(byTs).cast("long"))
      .withColumn("nxt", lead(col("ts_ms"), 1).over(byTs))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"), col("ts_ms").as("valid_from_ms"),
        coalesce(col("nxt"), lit(RangeEndMs)).as("valid_to_ms"),
        col("nxt").isNull.as("is_current"))
      .orderBy(col("user_id"), col("version"))
  }

  /** W14 (streaming semantics through the oracle, part 5): the
    * ARBITRARY-state API — a per-user running (count, max-ts) ingest
    * cursor in `flatMapGroupsWithState` (A4's semantic), one snapshot
    * row per active user per micro-batch. Same three-decade delivery
    * construction as w9 (event_id % 11 rows displaced one delivery);
    * no watermark, so every row counts and the oracle is a pure
    * closed-form replay: per-(user, delivery) aggregates + running
    * sums/maxes over delivery order. Snapshot rows are identified by
    * the strictly-increasing per-user n_total — no batch ids in the
    * output contract. */
  def w14StatefulCursor(s: SparkSession, d: String): DataFrame = {
    val raw = s.read.parquet(s"$d/events.parquet")
    val usCol = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case _ => expr("unix_micros(cast(ts as timestamp))")
    }
    val ev = raw.select(col("event_id"), usCol.as("us"), col("user_id"))
      .withColumn("rel_ms", expr("us div 1000") - RangeStartMs)
    val dayMs = 86400000L
    val base = when(col("rel_ms") < 10 * dayMs, 0)
      .when(col("rel_ms") < 20 * dayMs, 1).otherwise(2)
    val batchCol = least(base + when(col("event_id") % 11 === 0, 1)
      .otherwise(0), lit(2))
    val lines = ev.select(col("event_id"), batchCol.as("batch"),
      concat_ws("\t", col("event_id"), col("us"), col("user_id"))
        .as("value_line"))
    val root = scratchDir("w14q")
    val drop = root.resolve("drop")
    java.nio.file.Files.createDirectories(drop)
    val sink = root.resolve("sink").toString
    for (b <- 0 to 2)
      stageBatchFile(lines.where(col("batch") === b)
        .orderBy(col("event_id")).select(col("value_line")), drop, b)
    graft.streaming.EventWindowStream.deliverCursor(s, drop.toString,
      root.resolve("ckpt").toString, sink, statePartitions = 8,
      maxFilesPerTrigger = 1)
    s.read.parquet(sink)
      .select(col("user_id"), col("n_batch"), col("n_total"),
        col("max_ts_us"))
      .orderBy(col("user_id"), col("n_total"))
  }

  /** A11: dispersion stats per user — variance/stddev via the algebraic
    * decomposition (n, Σx, Σx²) in EXACT decimals, final math in double.
    * The sufficient statistics merge associatively (map-side combine, any
    * partition order — what a 1000-executor partial agg needs), unlike
    * order-sensitive naive double summation; and exactness makes the DuckDB
    * twin bit-identical. Inputs are rounded to 6 decimals first so the
    * decimal cast is lossless in both engines. */
  def a11Dispersion(s: SparkSession, d: String): DataFrame = {
    val v = round(col("value"), 6).cast("decimal(18,6)")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(v).as("sx"), sum(v * v).as("sxx"))
      .select(col("user_id"), col("n"),
        round(col("sx").cast("double") / col("n"), 6).as("mean"),
        round((col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n")) /
          (col("n") - 1), 6).as("variance"))
      .withColumn("stddev", round(sqrt(greatest(col("variance"), lit(0.0))), 6))
      .orderBy(col("user_id"))
  }

  /** A12: covariance/correlation per user via the same exact sufficient
    * statistics as [[a11Dispersion]] — (n, Σx, Σy, Σx², Σy², Σxy) in
    * decimals, Pearson formula in double. The second series is derived from
    * event_id (small exact ints), so every accumulator is exact and the
    * DuckDB twin matches bit-for-bit. Order-independent partial aggs. */
  def a12Correlation(s: SparkSession, d: String): DataFrame = {
    val x = round(col("value"), 6).cast("decimal(18,6)")
    val y = (col("event_id") % 97).cast("decimal(18,0)")
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * x).as("sxx"), sum(y * y).as("syy"), sum(x * y).as("sxy"))
      .select(col("user_id"), col("n"),
        round((col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (col("n") * (col("n") - 1)), 6).as("covariance"),
        round((col("n") * col("sxy").cast("double") -
          col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double")) *
           sqrt(col("n") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("correlation"))
      .orderBy(col("user_id"))
  }

  /** A9: sketch aggregation — HLL approx distinct beside the exact count.
    * Sketches differ across engines, so the cross-checked contract is
    * "each engine's sketch lands within 10% of the (exactly-matching)
    * true count" — deterministic per engine and data. */
  def a9ApproxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id")).as("n_approx"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("n_approx") - col("n_exact")).cast("double") /
          col("n_exact") < 0.1).as("approx_ok"))
      .orderBy(col("event_type"))

  /** A13: quantile SKETCH with a rank-tolerance contract (the a9 pattern
    * for the percentile family): each engine computes its own approximate
    * quantile (Spark: Greenwald-Khanna percentile_approx; DuckDB: t-digest)
    * and asserts it lands within the EXACT neighboring-quantile band —
    * approx p50 ∈ [p40, p60], approx p95 ∈ [p90, max]. The hashed columns
    * are the exact percentiles (portable per t8) plus the contract
    * booleans; the sketch values themselves never cross engines. */
  def a13ApproxQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        percentile(col("value"), lit(0.4)).as("p40"),
        percentile(col("value"), lit(0.5)).as("p50"),
        percentile(col("value"), lit(0.6)).as("p60"),
        percentile(col("value"), lit(0.9)).as("p90"),
        percentile(col("value"), lit(0.95)).as("p95"),
        max(col("value")).as("pmax"),
        percentile_approx(col("value"), lit(0.5), lit(1000)).as("a50"),
        percentile_approx(col("value"), lit(0.95), lit(1000)).as("a95"))
      .select(col("event_type"), col("p50"), col("p95"),
        (col("a50") >= col("p40") && col("a50") <= col("p60"))
          .as("approx50_ok"),
        (col("a95") >= col("p90") && col("a95") <= col("pmax"))
          .as("approx95_ok"))
      .orderBy(col("event_type"))

  /** W6: session windows — per-user activity sessions with a 30-minute idle
    * gap, via Spark's native session_window (oracle: gap-and-islands). */
  def w6SessionWindows(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("event_time", timestamp_millis(col("ts_ms")))
      .groupBy(col("user_id"),
        session_window(col("event_time"), "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("value_sum"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        col("n"), col("value_sum"))
      .orderBy(col("user_id"), col("session_start_ms"))

  // ---- Gap engine (SURVEY §2.6 W1-W3, the signature queries) -------------

  /** Hour-aligned distinct per-user event grid — the "kline table" analogue
    * the gap engine scans. */
  private def alignedEvents(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), floorMs(col("ts_ms"), GapIvlMs).as("ts"))
      .distinct()

  /** W1: interior gap scan — LAG per key, one windowed job for all keys. */
  def w1GapScan(s: SparkSession, d: String): DataFrame =
    GapEngine.interiorGaps(alignedEvents(s, d), Seq("user_id"), "ts", GapIvlMs)
      .orderBy(col("user_id"), col("gap_start"))

  /** W2: head/tail boundary gaps vs the requested range (keys with no rows
    * at all get the whole-range gap). */
  def w2BoundaryGaps(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.events(s, d).select(col("user_id")).distinct()
    GapEngine.boundaryGaps(alignedEvents(s, d), keys, Seq("user_id"), "ts",
      GapIvlMs, RangeStartMs, LastHourMs)
      .orderBy(col("user_id"), col("gap_start"))
  }

  /** W3: full gap plan — interior ∪ boundary, islands-merged. */
  def w3GapIslands(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.events(s, d).select(col("user_id")).distinct()
    GapEngine.gapPlan(alignedEvents(s, d), keys, Seq("user_id"), "ts",
      GapIvlMs, RangeStartMs, LastHourMs, MergeWithinMs)
      .orderBy(col("user_id"), col("gap_start"))
  }

  // ---- Joins (SURVEY §2.4) -----------------------------------------------

  /** J1/J2: dim equi-joins with filters — all broadcast. */
  def j1DimJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)),
        col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name").isin("ASIA", "EUROPE"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("r_name"), col("n_name"))

  /** J9: a dim join routed through [[Skew.saltedJoin]] — salting must
    * preserve inner-equi-join semantics exactly, so the oracle is the PLAIN
    * join SQL: any salting bug (dropped or duplicated matches) breaks the
    * hash match. The salt spreads a hot nation key over `factor`
    * partitions. */
  def j9SaltedJoin(s: SparkSession, d: String): DataFrame =
    Skew.saltedJoin(
      Tables.customer(s, d).withColumnRenamed("c_nationkey", "n_nationkey"),
      Tables.nation(s, d).select(col("n_nationkey"), col("n_name")),
      Seq("n_nationkey"), factor = 4)
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        dsum(col("c_acctbal")).as("total_acctbal"))
      .orderBy(col("n_name"))

  /** J13: ADAPTIVE salted join — o11's skew census DRIVING the salt
    * factor of j9's repair, in one plan ([[Skew.adaptiveSaltedJoin]]).
    * The probe is events under SENTINEL-KEY collapse (unresolved sessions
    * land on account 0: `account_id = 0 when user_id % 10 == 0` — the
    * null/default-key skew every production join eventually meets), the
    * build is the customer dimension. The in-plan census finds the hot
    * keys and sizes each one's salt to its measured skew multiple —
    * factor 2 at sf0.001, 13 at sf0.01, 32 (capped) at sf0.1, so the
    * adaptation is visible across SFs — while cold keys join unsalted
    * and the build side replicates only Σ factors extra rows. The DuckDB
    * twin runs the PLAIN unsalted join (plus the census algebra for the
    * stats columns), so hash equality proves the repair semantically
    * invisible: exactly j9's transparency claim, now with the detector
    * choosing the dose. At 100 TB this replaces the hand-tuned `factor=`
    * constant with a number measured from the data — the difference
    * between a plan that survives a new hot key and one that doesn't. */
  def j13AdaptiveSalt(s: SparkSession, d: String): DataFrame = {
    val probe = Tables.events(s, d).select(
      when(col("user_id") % 10 === 0, lit(0L)).otherwise(col("user_id"))
        .as("account_id"),
      col("event_id"), col("value"))
    val build = Tables.customer(s, d)
      .select(col("c_custkey").as("account_id"), col("c_mktsegment"))
    val (joined, hot, stats) = Skew.adaptiveSaltedJoin(probe, build,
      Seq("account_id"), "event_id", J13HotNum, J13HotDen, J13SaltCap)
    val agg = joined.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cast(floor(value * 1000000 + 0.5) as bigint)"))
          .as("value_micro"))
    val censusRow = stats
      .select(expr("_mx * 1000000 div greatest(_tot div _n, 1)")
        .as("skew_ppm"))
      .crossJoin(hot.agg(count(lit(1)).as("n_hot_keys"),
        coalesce(max(col("_factor")), lit(1L)).as("max_factor")))
    agg.crossJoin(broadcast(censusRow)) // 1-row census aggregate
      .orderBy(col("c_mktsegment"))
  }

  /** J10: the bucketed co-located fact⋈fact join EXERCISED as a query —
    * customer and orders (re)written bucketed+sorted by custkey via
    * [[graft.sinks.Bucketing.writeBucketed]], then joined. With both sides
    * pre-bucketed Spark plans a sort-merge join with NO Exchange below it
    * (each task reads bucket i of both tables — plan-locked in
    * QueriesSmokeSpec with broadcast disabled; at this SF the optimizer may
    * legitimately broadcast instead, which is also shuffle-free). This is
    * the static-layout lever that converts the dominant fact shuffle at
    * 100 TB into local reads; 8 buckets here, thousands at scale. */
  def j10Bucketed(s: SparkSession, d: String): DataFrame = {
    graft.sinks.Bucketing.writeBucketed(
      Tables.customer(s, d).select(col("c_custkey"), col("c_nationkey")),
      "graft_j10_customer", 8, Seq("c_custkey"))
    graft.sinks.Bucketing.writeBucketed(
      Tables.orders(s, d)
        .select(col("o_custkey").as("c_custkey"), col("o_totalprice")),
      "graft_j10_orders", 8, Seq("c_custkey"))
    s.table("graft_j10_orders")
      .join(s.table("graft_j10_customer"), Seq("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total_price"))
      .orderBy(col("c_nationkey"))
  }

  /** K4: small-file compaction EXERCISED through the oracle gate — the
    * maintenance op a streaming sink needs, proven content-preserving by
    * the correctness hash. A lang-partitioned copy of documents is
    * deliberately fragmented (8 doc_id-range tasks → 8 files per
    * partition dir — ONE corpus scan; the earlier 8-append loop paid
    * eight scans + eight commit rounds for the same fragmented layout),
    * [[graft.sinks.Compaction.compactPartitions]] rewrites the
    * oversized dirs to one file each via the rename-aside swap, and the
    * query aggregates the COMPACTED table; the oracle aggregates the
    * original documents, so a lost, duplicated, or corrupted row breaks
    * the hash. The spec asserts the file counts actually shrank. */
  def k4Compaction(s: SparkSession, d: String): DataFrame = {
    val root = scratchDir("k4c").resolve("docs_by_lang").toString
    val docs = Tables.documents(s, d)
    docs.repartitionByRange(8, col("doc_id"))
      .write.partitionBy("lang").parquet(root)
    graft.sinks.Compaction.compactPartitions(s, root,
      targetFiles = 1, maxFiles = 2)
    s.read.parquet(root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("doc_id")).as("sum_doc_id"))
      .orderBy(col("lang"))
  }

  /** J3: timestamp-keyed full-outer merge of per-type series (the reference's
    * 3-endpoint long/short-ratio merge, `binance/perp.py:168-185`). */
  def j3FullOuterMerge(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    def series(t: String, alias: String): DataFrame =
      ev.where(col("event_type") === t)
        .groupBy(floorMs(col("ts_ms"), HourMs).as("bucket_ms"))
        .agg(dsum(col("value")).as(alias))
    series("click", "click_sum")
      .join(series("view", "view_sum"), Seq("bucket_ms"), "full_outer")
      .join(series("purchase", "purchase_sum"), Seq("bucket_ms"), "full_outer")
      .orderBy(col("bucket_ms"))
  }

  /** J6: anti-join — customers that never ordered. */
  def j6AntiJoin(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(Tables.orders(s, d).select(col("o_custkey").as("c_custkey")),
        Seq("c_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .orderBy(col("c_custkey"))

  /** J5: double lookup — the same dim probed for two different foreign keys
    * per fact row (the reference's from/to address-tag probes), misses NULL. */
  def j5DoubleLookup(s: SparkSession, d: String): DataFrame = {
    val supp = Tables.supplier(s, d).where(col("s_acctbal") > 5000)
      .select(col("s_suppkey"), col("s_nationkey"))
    val prt = Tables.part(s, d).where(col("p_size") > 25)
      .select(col("p_partkey"), col("p_brand"))
    Tables.lineitem(s, d)
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"), "left_outer")
      .join(broadcast(prt), col("l_partkey") === col("p_partkey"), "left_outer")
      .groupBy(coalesce(col("s_nationkey"), lit(-1)).as("nation"))
      .agg(count(lit(1)).as("n"),
        count(col("s_nationkey")).as("n_supp_tagged"),
        count(col("p_brand")).as("n_part_tagged"))
      .orderBy(col("nation"))
  }

  /** J8: semi-join — parts that appear in lineitem, counted per brand. */
  def j8SemiJoin(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .join(Tables.lineitem(s, d).select(col("l_partkey").as("p_partkey")),
        Seq("p_partkey"), "left_semi")
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n_parts"))
      .orderBy(col("p_brand"))

  /** J7: scalar-subquery lookup (exchange-id pattern): all orders of the
    * top-balance customer; the 1-row lookup broadcasts. */
  def j7ScalarLookup(s: SparkSession, d: String): DataFrame = {
    val top = Tables.customer(s, d)
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
      .limit(1)
      .select(col("c_custkey").as("o_custkey"))
    Tables.orders(s, d)
      .join(broadcast(top), Seq("o_custkey"))
      .select(col("o_orderkey"), col("o_custkey"),
        tsMs(col("o_orderdate")).as("o_orderdate_ms"), col("o_totalprice"))
      .orderBy(col("o_orderkey"))
  }

  /** J4: funding-history ⋈ funding-info lookup — the reference's
    * settlement-enrichment dict probe (`binance/perp.py:199-222`), exercised
    * through the REAL [[graft.flows.SyncFunding.merge]]: raw JSON bodies are
    * rendered from dim tables (history from supplier, info from nation, so
    * symbols S25–S29 exist only on the history side and drop on the inner
    * join), parsed with from_json, enriched via the broadcast lookup, and
    * interval-snapped (P11). Rate strings are fixed-point decimals, so both
    * engines parse the identical double. */
  def j4FundingLookup(s: SparkSession, d: String): DataFrame = {
    val histBody = Tables.supplier(s, d).select(
      to_json(array(struct(
        concat(lit("S"), pmod(col("s_suppkey"), lit(30))).as("symbol"),
        (lit(RangeStartMs) + col("s_suppkey") * HourMs).as("fundingTime"),
        concat(lit("0.00"),
          lpad(pmod(col("s_suppkey"), lit(100)).cast("string"), 2, "0"))
          .as("fundingRate")))).as("body"))
    val infoBody = Tables.nation(s, d).select(
      to_json(array(struct(
        concat(lit("S"), col("n_nationkey")).as("symbol"),
        (pmod(col("n_nationkey"), lit(4)) * 2 + 1).cast("int")
          .as("fundingIntervalHours"),
        lit("0.02").as("adjustedFundingRateCap"),
        lit("-0.02").as("adjustedFundingRateFloor")))).as("body"))
    graft.flows.SyncFunding.merge(histBody, infoBody, exchangeId = 7, instType = 1)
      .select(col("ts"), col("dt"),
        col("exchange_id").cast("int").as("exchange_id"), col("symbol"),
        col("inst_type").cast("int").as("inst_type"), col("funding_rate"),
        col("funding_interval"), col("adjusted_cap"), col("adjusted_floor"))
      .orderBy(col("symbol"), col("ts"))
  }

  /** X1: backward as-of join — each event picks up the latest hourly
    * per-user aggregate at or before its timestamp (windowed union
    * implementation, no theta join; see [[Joins.asofBackward]]). */
  def x1AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("ts_ms"))
    val hourly = Tables.events(s, d)
      .groupBy(col("user_id"), floorMs(col("ts_ms"), HourMs).as("ts_ms"))
      .agg(dsum(col("value")).as("hour_sum"), count(lit(1)).as("hour_n"))
    graft.operators.Joins.asofBackward(ev, hourly, Seq("user_id"), "ts_ms",
      Seq("hour_sum", "hour_n"))
      .orderBy(col("event_id"))
  }

  /** X2: range join — lineitems matched to overlapping price bands via
    * bucket expansion (see [[Joins.rangeJoin]]). */
  /** X3: INTERVAL-OVERLAP JOIN — the third temporal-join primitive after
    * as-of (x1) and point-in-range (x2): every (session, campaign-window)
    * pair whose intervals overlap, via [[Joins.overlapJoin]]'s bucket
    * expansion — both interval sets explode to covered fixed-width
    * buckets, candidates equi-join on the bucket, the exact predicate
    * runs on bucket-mates only, and each pair surfaces exactly once (kept
    * only in the overlap-start bucket; spec-pinned against the naive
    * theta join). Sessions are classic gaps-and-islands (one user-grain
    * sort). At this fixture the campaign side would broadcast — the
    * point is the shape that survives when it doesn't: ad-exposure ×
    * session at 100 TB is big×big, and the bucket equi-join is the only
    * plan that isn't a nested loop. Census per campaign: overlapping
    * sessions, distinct users, total overlap milliseconds. */
  def x3OverlapJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val sess = Tables.events(s, d)
      .select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("brk",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(ord) >
          X3SessionGapMs, 1L).otherwise(0L))
      .withColumn("sid", sum(col("brk"))
        .over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ts_ms")).as("s_lo"), max(col("ts_ms")).as("s_hi"))
    val camps = X3Campaigns.toDF("campaign_id", "c_lo", "c_hi")
    graft.operators.Joins.overlapJoin(sess, camps, "s_lo", "s_hi",
      "c_lo", "c_hi", X3BucketMs)
      .groupBy(col("campaign_id"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        sum(least(col("s_hi"), col("c_hi")) -
          greatest(col("s_lo"), col("c_lo"))).as("overlap_ms"))
      .orderBy(col("campaign_id"))
  }

  def x2RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bands = Seq(
      (0, 0L, 25000L), (1, 20000L, 60000L), (2, 50000L, 90000L),
      (3, 85000L, 110000L))
      .toDF("band_id", "lo", "hi")
    graft.operators.Joins.rangeJoin(
      Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice")),
      bands, "l_extendedprice", "lo", "hi", bucketWidth = 10000L)
      .groupBy(col("band_id"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("price_sum"))
      .orderBy(col("band_id"))
  }

  // ---- Projections / scalar transforms (SURVEY §2.3) ---------------------

  /** P2/P3: floor-to-grid alignment + dt string derivation (P5). */
  def p2AlignFloor(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(floorMs(col("ts_ms"), FiveMinMs).as("bucket_ms"))
      .agg(count(lit(1)).as("n"))
      .withColumn("dt", Align.dtString(col("bucket_ms")))
      .orderBy(col("bucket_ms"))

  /** P6: decimal-precision derivation over a printf-rendered numeric — runs
    * through the NATIVE codegen'd Catalyst expression
    * [[graft.plans.PrecisionOf]] (registered via SparkSessionExtensions);
    * [[Funcs.precisionOf]] is the built-in-composition equivalent. */
  def p6Precision(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    Tables.lineitem(s, d)
      .select(call_function("precision_of",
        format_string("%.2f", col("l_discount"))).cast("long").as("prec"))
      .groupBy(col("prec")).agg(count(lit(1)).as("n"))
      .orderBy(col("prec"))
  }

  /** P8: status-enum mapping. */
  def p8EnumMap(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(Funcs.enumMap(col("o_orderstatus"), StatusMap).as("status_code"))
      .groupBy(col("status_code")).agg(count(lit(1)).as("n"))
      .orderBy(col("status_code"))

  /** P12: guarded ratio normalization per user (yes/(yes+no) shape). */
  def p12ProbNorm(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val agg = ev.groupBy(col("user_id")).agg(
      dsum(when(col("event_type") === "purchase", col("value"))).as("purchase_sum"),
      dsum(when(col("event_type") === "view", col("value"))).as("view_sum"))
    agg.select(col("user_id"), col("purchase_sum"), col("view_sum"),
      round(Funcs.probNorm(col("purchase_sum"), col("view_sum")), 6)
        .as("purchase_ratio"))
      .orderBy(col("user_id"))
  }

  /** P13: ordered keyword entity classification. */
  def p13EntityClassify(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        Funcs.classifyByKeywords(col("text"), EntityRules, EntityDefault)
          .as("entity"))
      .groupBy(col("entity")).agg(count(lit(1)).as("n"))
      .orderBy(col("entity"))

  /** P16: predicate filter scan (pushdown-visible in explain). */
  def p16FilterScan(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .where(col("p_type") === "PROMO" && col("p_size").isin(1, 5, 9, 13))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), dsum(col("p_retailprice")).as("retail_sum"))
      .orderBy(col("p_brand"))

  /** P4/P5: time-unit normalization (s→ms, the gate/bitmart/mexc path) plus
    * dt wall-clock derivation. */
  def p4UnitNormalize(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"), (col("ts_ms") / 1000).cast("long").as("ts_s"))
      .select(col("event_id"), (col("ts_s") * 1000).as("ts_norm_ms"))
      .withColumn("dt", Align.dtString(col("ts_norm_ms")))
      .orderBy(col("event_id"))

  /** P7: 10^-p fixed-point rendering. */
  def p7DecimalStr(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(Funcs.toDecimalStr(pmod(col("p_size"), lit(9))).as("tick"))
      .groupBy(col("tick")).agg(count(lit(1)).as("n"))
      .orderBy(col("tick"))

  /** P9: asset-code canonicalization with passthrough fallback. */
  def p9CanonicalMap(s: SparkSession, d: String): DataFrame = {
    val codes = array(P9Codes.map(lit): _*)
    Tables.customer(s, d)
      .select(element_at(codes,
        (pmod(col("c_custkey"), lit(P9Codes.size)) + 1).cast("int")).as("code"))
      .select(Funcs.canonicalizeKrakenAsset(col("code")).as("asset"))
      .groupBy(col("asset")).agg(count(lit(1)).as("n"))
      .orderBy(col("asset"))
  }

  /** P10: long/short ratio decomposition r → (r/(1+r), 1-r/(1+r)). Double
    * arithmetic here (IEEE-identical across engines); the exact-decimal
    * variant is [[Funcs.ratioSplit]], unit-tested. */
  def p10RatioSplit(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .where(col("value") >= 0)
      .select(col("event_id"), col("value").as("r"))
      .withColumn("long_ratio", round(col("r") / (col("r") + 1), 6))
      .withColumn("short_ratio", round(lit(1) - col("r") / (col("r") + 1), 6))
      .orderBy(col("event_id"))

  /** P11: funding-interval snap to the nearest standard bucket. */
  def p11IntervalSnap(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(pmod(abs((col("value") * 10).cast("long")), lit(800L)).as("minutes"))
      .select(Align.snapFundingInterval(col("minutes")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))
      .orderBy(col("bucket"))

  /** P14: JSON field extraction + ordered fallback chain (entityTag →
    * hoverEntityTag → tokenTag shape). */
  def p14TagFallback(s: SparkSession, d: String): DataFrame = {
    val k = regexp_extract(col("props"), "[0-9]+", 0).cast("long")
    Tables.events(s, d)
      .select(coalesce(
        when(k % 2 === 0, k),
        when(k % 3 === 0, k + 100),
        lit(-1L)).as("tag"))
      .groupBy(col("tag")).agg(count(lit(1)).as("n"))
      .orderBy(col("tag"))
  }

  /** P15: AES-128-ECB decrypt (the reference's tag decryption) — proven by
    * round-trip: decrypt(encrypt(text)) must equal the original. */
  def p15AesRoundtrip(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        aes_decrypt(
          aes_encrypt(col("text").cast("binary"), lit(AesKey), lit("ECB")),
          lit(AesKey), lit("ECB")).cast("string").as("decrypted"))
      .orderBy(col("doc_id"))

  /** P17: per-prefix threshold filter (Kalshi OI threshold shape): threshold
    * resolved by first matching event-type prefix, default otherwise; keep
    * rows whose props.k clears it. */
  def p17ThresholdFilter(s: SparkSession, d: String): DataFrame = {
    val k = regexp_extract(col("props"), "[0-9]+", 0).cast("long")
    val threshold = P17Rules.foldRight(lit(P17Default): Column) {
      case ((prefix, t), acc) =>
        when(col("event_type").startsWith(prefix), t).otherwise(acc)
    }
    Tables.events(s, d)
      .withColumn("k", k)
      .where(col("k") >= threshold)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"))
      .orderBy(col("event_type"))
  }

  // ---- Sorts / limits / set ops (SURVEY §2.7) ----------------------------

  /** O1/O2: global top-N with total tie-break. */
  def o1TopN(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)

  /** O5: set union + distinct. */
  def o5UnionDistinct(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.where(col("event_type") === "error").select(col("user_id"))
      .union(ev.where(col("event_type") === "signup").select(col("user_id")))
      .distinct()
      .orderBy(col("user_id"))
  }

  /** O7: Z-order layout audit — quantize (user_id, value) to ZBits each,
    * Morton-interleave, bucket rows by the z-value's high bits (the file
    * grain a z-ordering writer would produce), and emit each bucket's
    * min/max envelope on BOTH dimensions plus overlap flags against a fixed
    * probe rectangle. The flags are the planning-time skip decision a
    * parquet reader makes from footer stats: most buckets are false on at
    * least one axis — single-column sorting can never narrow both. The
    * z-value is an unrolled shift/mask expression fused into the scan
    * (map-side, no UDF); the bucket census shuffles ≤2^(2·ZBits−ZShift)
    * cells. `LayoutSpec` proves the same key prunes real files on disk. */
  def o7Zorder(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(
      col("user_id").cast("long").as("ux"),
      least(floor(col("value") / 2).cast("long"), lit(255L)).as("vy"))
    ev.withColumn("bucket",
        shiftrightunsigned(Layout.morton(col("ux"), col("vy"), ZBits), ZShift))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ux")).as("ux_min"), max(col("ux")).as("ux_max"),
        min(col("vy")).as("vy_min"), max(col("vy")).as("vy_max"))
      .select(col("bucket"), col("n"),
        col("ux_min"), col("ux_max"), col("vy_min"), col("vy_max"),
        (col("ux_min") <= ZProbeUx._2 && col("ux_max") >= ZProbeUx._1)
          .as("probe_ux"),
        (col("vy_min") <= ZProbeVy._2 && col("vy_max") >= ZProbeVy._1)
          .as("probe_vy"))
      .orderBy(col("bucket"))
  }

  /** O10: zone-map SKIP census — the quantified case for o7's z-order:
    * for each layout (natural ingestion-order files vs morton-bucketed
    * files) and each canonical predicate, how many files' (min,max) zone
    * maps prove the file irrelevant, and how many rows that skipping
    * avoids. At 100 TB file skipping IS the scan budget — this is the
    * planning query a layout decision should cite, not a rule of thumb.
    * Natural layout zones on uncorrelated dimensions span the full domain
    * (skip ≈ 0); z-order bounds both dimensions per file (the output
    * shows the multi-dimensional selectivity surviving into I/O).
    * Everything is metadata-grain after one bucket aggregate per layout:
    * zones ≤ 2×files rows, the predicate grid broadcasts, census is
    * (layout × predicate). Integer ppm, no float seams. */
  def o10SkipCensus(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = Tables.events(s, d).select(
      col("event_id").cast("long").as("eid"),
      col("user_id").cast("long").as("ux"),
      least(floor(col("value") / 2).cast("long"), lit(255L)).as("vy"))
    val span = base.agg((max(col("eid")) + lit(1L)).as("span"))
    val nat = base.crossJoin(broadcast(span))
      .select(lit("natural").as("layout"),
        expr(s"(eid * $SkipFiles) div span").as("bucket"),
        col("ux"), col("vy"))
    val zo = base.select(lit("zorder").as("layout"),
      shiftrightunsigned(Layout.morton(col("ux"), col("vy"), ZBits), ZShift)
        .as("bucket"),
      col("ux"), col("vy"))
    val zones = nat.unionByName(zo)
      .groupBy(col("layout"), col("bucket"))
      .agg(count(lit(1)).as("n"),
        min(col("ux")).as("uxmin"), max(col("ux")).as("uxmax"),
        min(col("vy")).as("vymin"), max(col("vy")).as("vymax"))
    val preds = SkipPredicates
      .toDF("predicate", "ux_lo", "ux_hi", "vy_lo", "vy_hi")
    zones.crossJoin(broadcast(preds))
      .withColumn("skip",
        (col("uxmax") < col("ux_lo") || col("uxmin") > col("ux_hi") ||
          col("vymax") < col("vy_lo") || col("vymin") > col("vy_hi"))
          .cast("long"))
      .groupBy(col("layout"), col("predicate"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("skip")).as("n_skipped"),
        sum(when(col("skip") === 1L, col("n")).otherwise(0L))
          .as("rows_skipped"),
        sum(col("n")).as("rows_total"))
      .withColumn("skip_ppm",
        expr("rows_skipped * 1000000 div rows_total"))
      .orderBy(col("layout"), col("predicate"))
  }

  // ---- Wide fact (market_snapshot, 70 columns) ---------------------------

  /** SN1: the wide-fact exercise — a per-(symbol, hour) aggregate touching
    * 7 of the snapshot's 70 columns (reference
    * `restore_market_snapshot_from_s3.py:60-83`). The parquet scan must
    * prune ReadSchema to exactly those 7 columns and push the ts cut into
    * the scan (both locked by QueriesSmokeSpec) — on a 100 TB snapshot
    * table that pruning IS the query budget. Sums are exact fixed-point
    * micro-units (floor(x·10⁶ + 0.5) longs): partial-aggregation order can
    * never perturb them, and they sidestep the round(double) cross-engine
    * divergence class entirely. */
  def sn1SnapshotHourly(s: SparkSession, d: String): DataFrame = {
    val snap = Tables.parquet(s, graft.sources.WideSnapshot.ensure(s, d))
    def micro(c: Column): Column = sum(floor(c * lit(1000000.0) + lit(0.5)))
    snap
      .where(col("ts") < SnapshotTsCut)
      .select(col("symbol"), col("ts"), col("mark_price"),
        col("funding_rate"), col("volume"), col("depth_bid_1bps"),
        col("depth_ask_1bps"))
      .groupBy(col("symbol"), floorMs(col("ts"), HourMs).as("hour_ms"))
      .agg(count(lit(1)).as("n"),
        micro(col("mark_price")).as("mark_sum_micro"),
        max(col("funding_rate")).as("funding_max"),
        micro(col("volume")).as("vol_sum_micro"),
        micro(col("depth_bid_1bps")).as("bid1bps_sum_micro"),
        micro(col("depth_ask_1bps")).as("ask1bps_sum_micro"))
      .orderBy(col("symbol"), col("hour_ms"))
  }

  /** SN2: order-book shape from the percentile ladder — spread, mid, bid-
    * and ask-side percentile ranges, depth-curvature extremes, per symbol.
    * Touches 8 of the 65 feature columns (the p0/p50/p100 rungs and two
    * curvatures): ReadSchema must prune 70 → 10 (spec-locked) — this and
    * sn1 bracket the wide-fact budget from two different column
    * neighborhoods. All sums are exact fixed-point micro-units over
    * IEEE-identical column arithmetic (a-b, (a+b)·0.5 reproduce exactly in
    * the oracle). */
  def sn2BookShape(s: SparkSession, d: String): DataFrame = {
    val snap = Tables.parquet(s, graft.sources.WideSnapshot.ensure(s, d))
    def micro(c: Column): Column = sum(floor(c * lit(1000000.0) + lit(0.5)))
    snap
      .where(col("ts") < SnapshotTsCut)
      .groupBy(col("symbol"))
      .agg(count(lit(1)).as("n"),
        micro(col("ask_p0") - col("bid_p100")).as("spread_sum_micro"),
        micro((col("bid_p50") + col("ask_p50")) * lit(0.5)).as("mid_sum_micro"),
        micro(col("bid_p100") - col("bid_p0")).as("bid_range_sum_micro"),
        micro(col("ask_p100") - col("ask_p0")).as("ask_range_sum_micro"),
        max(col("curvature_long_ask")).as("curv_ask_max"),
        min(col("curvature_short_bid")).as("curv_bid_min"))
      .orderBy(col("symbol"))
  }

  // ---- Dedup suite -------------------------------------------------------

  /** D1: exact dedup groups via content hash. */
  def d1ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(Tables.documents(s, d), "doc_id", "text")
      .orderBy(col("fp"))

  /** D2: blocked exact n-gram Jaccard pairs. The DuckDB oracle is uncapped
    * exact all-pairs, so the block guard is pinned open here — at any scale
    * factor this query stays exact (production callers keep the default
    * 10k cap and get the documented LSH reroute on hot blocks). */
  def d2JaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardDupPairs(Tables.documents(s, d), "doc_id", "text",
      Seq("lang", "source"), JaccardThreshold, maxBlock = Long.MaxValue)
      .select(col("id_a"), col("id_b"), col("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** D3: MinHash-LSH near-dup pairs. */
  def d3MinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashDupPairs(Tables.documents(s, d), "doc_id", "text",
      MinhashK, MinhashBands, MinhashThreshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  /** D4: per-document SimHash value. */
  def d4Simhash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), Dedup.tokenSet(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
      .select(col("doc_id"), Dedup.simhash(col("toks"), SimhashBits).as("simhash"))
      .orderBy(col("doc_id"))

  /** W4: gap plan → paginated fetch windows (the generator/UDTF surface:
    * explode(sequence) pagination of each merged gap). */
  def w4FetchWindows(s: SparkSession, d: String): DataFrame = {
    val keys = Tables.events(s, d).select(col("user_id")).distinct()
    val plan = GapEngine.gapPlan(alignedEvents(s, d), keys, Seq("user_id"),
      "ts", GapIvlMs, RangeStartMs, LastHourMs, MergeWithinMs)
    GapEngine.fetchWindows(plan, Seq("user_id"), GapIvlMs, FetchLimit)
      .select(col("user_id"), col("req_start"), col("req_end"))
      .orderBy(col("user_id"), col("req_start"))
  }

  /** D5: embedding-cosine near-dup pairs via full-code sign-LSH blocking. */
  def d5EmbeddingDups(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingDupPairs(Tables.embeddings(s, d), "vec_id",
      "embedding", D5Bits, EmbeddingDim, D5Threshold)
      .orderBy(col("id_a"), col("id_b"))

  /** D6: SimHash near-dup pairs — banded 60-bit simhash, Hamming-verified. */
  def d6SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashDupPairs(Tables.documents(s, d), "doc_id", "text",
      bands = 6, maxHamming = 18)
      .orderBy(col("id_a"), col("id_b"))

  /** D20: prefix-filtering EXACT similarity self-join (AllPairs — Bayardo
    * et al. 2007): all doc pairs with `PrefixJoinK`-shingle Jaccard ≥ 0.5,
    * GLOBAL (no blocking columns) yet never all-pairs — the rarest-first
    * prefix index bounds candidates with exact recall, the deterministic
    * complement to d3's LSH (see [[Dedup.prefixFilterDupPairs]]). The
    * DuckDB twin verifies through the shingle-overlap join (pairs sharing
    * ≥1 shingle, grouped), so a single missed candidate would hash-fail. */
  def d20PrefixFilterPairs(s: SparkSession, d: String): DataFrame =
    Dedup.prefixFilterDupPairs(Tables.documents(s, d), "doc_id", "text",
      PrefixJoinK, PrefixJoinPpm)
      .orderBy(col("id_a"), col("id_b"))

  /** D21: sorted-neighborhood blocking (Hernández & Stolfo 1995) — the
    * third classic dedup blocking family next to hashing (d1/d2) and LSH
    * banding (d3/d6): sort by (lang, source, normalized text prefix),
    * slide a `SnmWindow`-row window down the global order, verify in-window
    * pairs by exact token-set Jaccard. The global rank is built WITHOUT a
    * single-reducer window (bucket-offset + intra-bucket row_number — see
    * [[Dedup.sortedNeighborhoodPairs]]); the oracle replays the rank with
    * one flat row_number, so any contiguity error in the distributed
    * ranking (a missed cross-bucket pair, a double-counted offset)
    * hash-fails. */
  def d21SortedNeighborhood(s: SparkSession, d: String): DataFrame =
    Dedup.sortedNeighborhoodPairs(Tables.documents(s, d), "doc_id", "text",
      Seq("lang", "source"), SnmPrefixChars, SnmWindow, SnmThreshold)
      .orderBy(col("id_a"), col("id_b"))

  /** D22: CDC-chunk resemblance pairs — storage-grain near-dup detection
    * (Broder resemblance over t25's content-defined chunks): doc pairs
    * sharing ≥ `CdcResemblance` of their distinct chunk fingerprints.
    * Catches verbatim-passage reuse that survives local edits; the df cap
    * is pinned open so the query stays the oracle's exact all-pairs
    * contract (see [[Dedup.chunkResemblancePairs]]). */
  def d22ChunkResemblance(s: SparkSession, d: String): DataFrame =
    Dedup.chunkResemblancePairs(Tables.documents(s, d), "doc_id", "text",
      CdcModulus, CdcResemblance)
      .orderBy(col("id_a"), col("id_b"))

  /** D23: asymmetric containment join (Broder 1997's second measure) —
    * DIRECTED pairs where doc b's shingle set holds ≥ `ContainPpm` of doc
    * a's. The quote/subsumption detector resemblance can't express: a
    * short doc swallowed by a long one has Jaccard ≤ |short|/|long| but
    * containment 1.0. One-sided prefix filter (exact recall — see
    * [[Dedup.containmentDupPairs]]); the df cap is pinned open so the
    * query stays the oracle's exact all-pairs contract, which probes
    * candidates through the full shingle-overlap join — a single missed
    * directed candidate hash-fails. */
  def d23ContainmentPairs(s: SparkSession, d: String): DataFrame =
    Dedup.containmentDupPairs(Tables.documents(s, d), "doc_id", "text",
      PrefixJoinK, ContainPpm)
      .orderBy(col("id_a"), col("id_b"))

  /** D7: benchmark decontamination — corpus docs (doc_id % 29 ≠ 0) sharing
    * any 3-word shingle with the benchmark subset (doc_id % 29 = 0), with
    * the distinct-shingle overlap count. Hash equi-join on shingle md5 —
    * uniform shuffle; the benchmark side broadcasts under AQE. */
  def d7Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Decontaminate.contaminatedDocs(
      docs.where(col("doc_id") % 29 =!= 0),
      docs.where(col("doc_id") % 29 === 0),
      "doc_id", "text", k = 3)
      .orderBy(col("doc_id"))
  }

  /** D11: Bloom-GATED decontamination — same contract as d7 (the oracle is
    * the exact overlap SQL; the Bloom gate is an optimization that must
    * never change the answer), different corpus/benchmark split (mod 31)
    * and the seen-set-scale plan: benchmark shingles fold into a sketch
    * via treeAggregate, the corpus filters map-side through Spark's native
    * `bloom_might_contain`, and the exact join verifies only probable
    * hits. See [[Decontaminate.contaminatedDocsBloom]] for when this plan
    * beats d7's broadcast join (non-broadcastable seen-sets). */
  def d11BloomContamination(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftExtensions.register(s)
    val docs = Tables.documents(s, d)
    Decontaminate.contaminatedDocsBloom(
      docs.where(col("doc_id") % 31 =!= 0),
      docs.where(col("doc_id") % 31 === 0),
      "doc_id", "text", k = 3, expectedShingles = 1L << 16)
      .orderBy(col("doc_id"))
  }

  /** D12: sliding-window exact-substring duplication — Lee et al. 2022's
    * duplicated-text measurement, stride-1 windows so repeated runs are
    * caught at ANY alignment (d8's disjoint chunks miss shifted copies).
    * Per doc: total tokens and the union size of duplicated-window spans
    * (an islands merge per doc). See [[Dedup.substringDupSpans]]. */
  def d12SubstringDup(s: SparkSession, d: String): DataFrame =
    Dedup.substringDupSpans(Tables.documents(s, d), "doc_id", "text",
      SubstrK)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_dup_tokens"))
      .orderBy(col("doc_id"))

  /** D8: passage-level exact dedup (C4-style line dedup on fixed 10-word
    * passages): per doc, total passages and passages surviving global
    * first-occurrence dedup. One window over the fingerprint + one rollup
    * by doc — see [[Dedup.passageDedup]]. */
  def d8PassageDedup(s: SparkSession, d: String): DataFrame =
    Dedup.passageDedup(Tables.documents(s, d), "doc_id", "text", PassageK)
      .select(col("id").as("doc_id"), col("n_passages"), col("n_kept"))
      .orderBy(col("doc_id"))

  /** T6: deterministic stratified downsampling for training-mix
    * construction — per-language keep rates decided by md5(doc_id) hex
    * prefix, not rand(), so the sample is stable across engines and task
    * retries. Map-side only. */
  def t6StratifiedSample(s: SparkSession, d: String): DataFrame =
    Sampling.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
      Map("en" -> 0.25, "zh" -> 0.75), default = 0.5)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** T13: distribution rebalancing — the training-data MIXING step: derive
    * per-language keep-rates from the data so the surviving corpus
    * approaches a uniform language mix (the most under-represented
    * language keeps everything), then apply the deterministic md5
    * keep-predicate and report the before/after counts per language. All
    * rates are computed declaratively inside the plan (stratum-grain
    * aggregate + scalar max + broadcast join-back) — no driver collect. */
  def t13MixRebalance(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val target = Seq("de", "en", "es", "fr", "zh").map(_ -> 0.2).toMap
    val kept = Sampling.rebalanceSample(docs, "doc_id", "lang", target)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_kept"))
    docs.groupBy(col("lang")).agg(count(lit(1)).as("n_in"))
      .join(kept, Seq("lang"), "left_outer")
      .select(col("lang"), col("n_in"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
  }

  /** T14: in-engine classifier training — a pocket batch perceptron
    * DISTILLING the t1 language-ID heuristic into a linear model: label
    * +1 iff `langId(text) = 'en'` (the argmax-with-priority rule),
    * features the five per-language marker-hit counts plus bias. The
    * label is a non-linear function of the features (pairwise count
    * comparisons), so training genuinely has to find the separating
    * weights — pocket lands ~90% accuracy against a ~75-78% base rate.
    * Every quantity in training and scoring is exact BIGINT arithmetic,
    * so the DuckDB twin unrolls the same 12 epochs to bit-identical
    * weights, margins, and predictions ([[Oracles.t14Sql]] is GENERATED
    * from the same epoch count). See [[graft.operators.Perceptron]] for
    * the scale shape: epochs+1 map-side-combinable aggregates, the driver
    * collects one |x|+1-long row per pass. */
  def t14Perceptron(s: SparkSession, d: String): DataFrame = {
    val xCols = (1 to 6).map(j => s"x$j")
    val markerHits = LangMarkers.zipWithIndex.map { case ((_, words), j) =>
      TextAnalysis.stopwordHits(col("text"), words).cast("long")
        .as(s"x${j + 1}")
    }
    val feats = Spread(Tables.documents(s, d)).select(
      col("doc_id") +:
        when(TextAnalysis.langId(col("text"), LangMarkers) === "en", 1)
          .otherwise(-1).as("y") +:
        markerHits :+
        lit(1L).as("x6"): _*).persist()
    val w = Perceptron.train(feats, "y", xCols, epochs = T14Epochs)
    val margin = Perceptron.dot(w, xCols)
    feats.select(col("doc_id"), margin.as("margin"),
      when(margin > 0, 1).otherwise(-1).as("pred"), col("y"))
      .orderBy(col("doc_id"))
  }

  /** T33: quality-classifier TRAINING LOOP with a leakage-safe grouped
    * split — the C4/CCNet classifier-training story assembled from the
    * engine's own pieces: t24's hash-of-source split (every SOURCE lands
    * wholly in train or wholly in held-out, so no near-duplicate leakage
    * across the boundary), the t15 Gopher bundle as the training label,
    * t14's pocket perceptron as the model, and a per-source confusion
    * census with integer-ppm precision/recall over the HELD-OUT sources
    * only. All-integer end to end (features, weights, margins, ppm via
    * integer div), so the DuckDB twin — generated from the same epoch
    * count — replays training AND evaluation bit-identically. Scale
    * shape: the feature build is one map-side projection (persisted,
    * Spread against the narrow-scan pathology); training is epochs+1
    * model-sized aggregates over the train split (map-side-combinable
    * sums, one |x|+1-long row collected per pass); eval is one
    * groupBy(source). Overflow headroom per the Perceptron scaladoc. */
  def t33ClassifierLoop(s: SparkSession, d: String): DataFrame = {
    val xCols = (1 to 6).map(j => s"x$j")
    val toks = TextAnalysis.tokens(col("text"))
    val n = size(toks).cast("long")
    val chars = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val hashes = (length(col("text")) -
      length(regexp_replace(col("text"), "#", ""))).cast("long")
    val dots = ((length(col("text")) -
      length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val alpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val stops = TextAnalysis.stopwordHits(col("text"), Stopwords).cast("long")
    val (rWords, rMeanLen, rSymbol, rAlpha, rStop) = gopherRules(col("text"))
    val y = when(rWords && rMeanLen && rSymbol && rAlpha && rStop, 1L)
      .otherwise(-1L)
    val h = conv(substring(md5(concat(lit("split:"), col("source"))), 1, 15),
      16, 10).cast("long") % 100
    val feats = Spread(Tables.documents(s, d)).select(
      col("doc_id"), col("source"), (h < 80).as("is_train"), y.as("y"),
      n.as("x1"), chars.as("x2"), (hashes + dots).as("x3"), alpha.as("x4"),
      stops.as("x5"), lit(1L).as("x6")).persist()
    val w = Perceptron.train(feats.where(col("is_train")), "y", xCols,
      epochs = T14Epochs)
    val margin = Perceptron.dot(w, xCols)
    feats.where(!col("is_train"))
      .select(col("source"), col("y"),
        when(margin > 0, 1L).otherwise(-1L).as("pred"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("y") === -1L && col("pred") === 1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("y") === 1L && col("pred") === -1L, 1L).otherwise(0L))
          .as("fn"))
      .select(col("source"), col("n_docs"), col("n_pos"), col("tp"),
        col("fp"), col("fn"),
        expr("CASE WHEN tp + fp > 0 THEN tp * 1000000 div (tp + fp) " +
          "ELSE -1 END").as("precision_ppm"),
        expr("CASE WHEN tp + fn > 0 THEN tp * 1000000 div (tp + fn) " +
          "ELSE -1 END").as("recall_ppm"))
      .orderBy(col("source"))
  }

  /** T15: the Gopher quality-rule bundle (Rae et al. 2021 §A1.1) — the
    * standard pre-filter suite of a web-scale pipeline, each rule in
    * INTEGER form so both engines decide identically with no division:
    * word count in [50, 100k]; mean word length in [3, 10] as
    * `3·n ≤ chars ≤ 10·n` (chars = non-whitespace); symbol-to-word ratio
    * < 0.1 as `10·symbols < n` (symbols = '#' and '...'); ≥ 80%
    * alphabetic words as `10·alpha ≥ 8·n`; ≥ 2 stopword hits. Pure
    * map-side — the whole bundle is one projection over the scan. */
  /** The five Gopher-style repetition/quality rules over a text column,
    * as named boolean columns (t15's contract; reused by pipe4). */
  private def gopherRules(text: Column)
      : (Column, Column, Column, Column, Column) = {
    val toks = TextAnalysis.tokens(text)
    val n = size(toks).cast("long")
    val chars = length(regexp_replace(text, "\\s", "")).cast("long")
    val hashes = (length(text) -
      length(regexp_replace(text, "#", ""))).cast("long")
    val dots = ((length(text) -
      length(regexp_replace(text, "\\.\\.\\.", ""))) / 3).cast("long")
    val alpha = size(filter(toks, t => t.rlike("[A-Za-z]"))).cast("long")
    val stops = TextAnalysis.stopwordHits(text, Stopwords).cast("long")
    (n >= 50L && n <= 100000L,
      lit(3L) * n <= chars && chars <= lit(10L) * n,
      lit(10L) * (hashes + dots) < n,
      lit(10L) * alpha >= lit(8L) * n,
      stops >= 2L)
  }

  def t15GopherRules(s: SparkSession, d: String): DataFrame = {
    val n = size(TextAnalysis.tokens(col("text"))).cast("long")
    val (rWords, rMeanLen, rSymbol, rAlpha, rStop) = gopherRules(col("text"))
    def bit(c: Column) = when(c, 1).otherwise(0)
    Tables.documents(s, d).select(
      col("doc_id"), n.as("n_tokens"),
      bit(rWords).as("r_words"), bit(rMeanLen).as("r_mean_len"),
      bit(rSymbol).as("r_symbol"), bit(rAlpha).as("r_alpha"),
      bit(rStop).as("r_stop"),
      bit(rWords && rMeanLen && rSymbol && rAlpha && rStop).as("passes"))
      .orderBy(col("doc_id"))
  }

  /** A14: cohort retention — users bucketed by FIRST-PURCHASE day (the
    * acquisition event), distinct-user counts per (cohort day, day offset
    * since acquisition). Two user-grain aggregates co-partition on the
    * join key (one shuffle each, the join reuses the partitioning), then
    * the rollup grain is days² — tiny at any corpus size. */
  def a14Retention(s: SparkSession, d: String): DataFrame = {
    val dayMs = 24L * HourMs
    def dayOf(c: Column): Column = ((c - lit(RangeStartMs)) / dayMs)
      .cast("long")
    val ev = Tables.events(s, d)
    val firsts = ev.where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(dayOf(min(col("ts_ms"))).as("cohort_day"))
    val active = ev.select(col("user_id"), dayOf(col("ts_ms")).as("day"))
      .distinct()
    firsts.join(active, Seq("user_id"))
      .where(col("day") >= col("cohort_day"))
      .groupBy(col("cohort_day"),
        (col("day") - col("cohort_day")).as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_day"), col("day_offset"))
  }

  /** A15: count-min-sketch heavy hitters — frequency estimation where the
    * exact vocabulary-grain count no longer fits. The sketch build shuffles
    * at most CmsDepth×CmsWidth counter cells (map-side partial agg collapses
    * every task to ≤2 k rows no matter the corpus size); the top-N exact
    * counts (the eval's ground truth) and the CMS estimates are compared
    * per token: est = min over rows of the probed counter, so over_n ≥ 0 by
    * construction — the CMS one-sided error guarantee, which the oracle
    * twin reproduces bucket-for-bucket via the portable md5 hash. Probes
    * are broadcast into the 2 k-row sketch; nothing corpus-sized moves. */
  def a15CmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(explode(transform(TextAnalysis.tokens(col("text")),
        t => lower(t))).as("tok"))
    val sketch = toks
      .select(Sketches.cmsProbes(col("tok"), CmsDepth, CmsWidth)
        .as(Seq("rw", "bucket")))
      .groupBy(col("rw"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_n"))
      .orderBy(col("exact_n").desc, col("tok")).limit(CmsTopN)
    val probes = top.select(col("tok"), col("exact_n"),
      Sketches.cmsProbes(col("tok"), CmsDepth, CmsWidth)
        .as(Seq("rw", "bucket")))
    sketch.join(broadcast(probes), Seq("rw", "bucket"))
      .groupBy(col("tok"), col("exact_n"))
      .agg(min(col("cnt")).as("cms_n"))
      .select(col("tok"), col("exact_n"), col("cms_n"),
        (col("cms_n") - col("exact_n")).as("over_n"))
      .orderBy(col("exact_n").desc, col("tok"))
  }

  /** M3: payload feature extraction — the decode-adjacent step made real:
    * 8-dim interleaved byte-histogram features per binary payload,
    * L2-normalized, as pure Catalyst expressions (no UDF) so the whole
    * thing cross-verifies against the relational oracle. Map-only — at
    * 100 TB this is the embarrassingly-parallel pre-pass that feeds the
    * ANN family. */
  def m3PayloadFeatures(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      // staged projections: hex → sums → normalized → flattened. Each
      // stage materializes an attribute the next reads, so the payload is
      // hexed ONCE and the folds run once per row — inline composition
      // re-evaluates shared subtrees per consumer (expression trees don't
      // memoize), which re-hexed the payload per byte access. Non-cheap
      // expressions survive CollapseProject, so the barriers hold.
      .select(col("doc_id"), hex(col("payload")).as("hx"),
        octet_length(col("payload")).as("n"))
      .select(col("doc_id"),
        Multimodal.byteSums(col("hx"), col("n"), dim = 8, stride = 4)
          .as("s"))
      .select(col("doc_id"), Multimodal.normalizeVec(col("s")).as("f"))
      .select(col("doc_id") +: (0 until 8).map(i =>
        element_at(col("f"), i + 1).as(s"f$i")): _*)
      .orderBy(col("doc_id"))

  /** M1: multimodal payload metadata — binary column + byte-offset frame
    * sampling (decode itself is the stubbed step; see Multimodal). */
  def m1MultimodalMeta(s: SparkSession, d: String): DataFrame =
    Multimodal.extractMeta(
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload")),
      "doc_id", "payload")
      .orderBy(col("doc_id"))

  /** M2: payload integrity digests — sha256 over the binary payload (the
    * reference's archive checksum, S7) + byte length. */
  def m2PayloadSha256(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        sha2(col("text").cast("binary"), 256).as("sha256"),
        octet_length(col("text").cast("binary")).cast("long").as("n_bytes"))
      .orderBy(col("doc_id"))

  // ---- Text analysis -----------------------------------------------------

  /** T1: language-ID heuristic vs labeled lang. */
  def t1LangId(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        TextAnalysis.langId(col("text"), LangMarkers).as("predicted"))
      .orderBy(col("doc_id"))

  /** T31: LABEL-NOISE CENSUS — the lang-tag audit a multilingual corpus
    * needs before per-lang budgets (pipe10) or per-lang dedup blocks
    * (d2/d14) can be trusted: t1's n-gram lang-ID replayed against the
    * RECORDED lang column, rolled up into the (labeled, predicted)
    * confusion matrix with an integer disagreement MARGIN (best marker
    * score minus the labeled lang's score — the number you threshold to
    * auto-relabel vs route to review; ties resolve to the declared lang
    * order with margin 0, same as t1). Pure map-side scoring + one
    * ≤|langs|²-row aggregate — corpus-linear at any scale. */
  def t31LabelNoise(s: SparkSession, d: String): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val scored = LangMarkers.map { case (l, words) =>
      val w = array(words.map(lit): _*)
      struct(size(filter(toks, t => array_contains(w, t))).as("score"),
        lit(l).as("lang"))
    }
    val best = scored.reduceLeft { (b, c) =>
      when(c.getField("score") > b.getField("score"), c).otherwise(b)
    }
    val labeled = coalesce(LangMarkers.map { case (l, words) =>
      val w = array(words.map(lit): _*)
      when(col("lang") === l,
        size(filter(toks, t => array_contains(w, t))))
    } :+ lit(0): _*)
    Spread(Tables.documents(s, d))
      .select(col("lang"), best.getField("lang").as("predicted"),
        (best.getField("score") - labeled).cast("long").as("margin"))
      .groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n_docs"), sum(col("margin")).as("sum_margin"),
        max(col("margin")).as("max_margin"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** T32: NOVELTY CENSUS — how much of each source is first-seen content
    * vs repeats of earlier corpus content (the redundancy signal behind
    * "dedup improves LMs", Lee et al. 2022, and the data-value ordering
    * a curriculum uses): per source, its docs' distinct 3-gram shingles,
    * the subset whose GLOBAL first occurrence (min doc_id over the whole
    * corpus) lands in that doc, and the novelty ratio in integer ppm.
    * One shingle-grain shuffle (uniform md5 keys — d7's grain) elects
    * first-owners, the persisted exploded frame feeds both the election
    * and the rollup, and the census is |sources| rows. */
  def t32NoveltyCensus(s: SparkSession, d: String): DataFrame = {
    val sh = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(TextAnalysis.shingleHashes(col("text"), 3)).as("g"))
      .persist() // feeds the first-occurrence election AND the join back
    val first = sh.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, Seq("g"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("source"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000 div n_grams").as("novelty_ppm"))
      .orderBy(col("source"))
  }

  /** T2: per-doc quality score. */
  def t2QualityScore(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
      .orderBy(col("doc_id"))

  /** T3: token stats per source. */
  def t3TokenStats(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("source"), TextAnalysis.tokenCount(col("text")).as("tc"),
        col("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tc")).as("total_tokens"),
        round(sum(col("tc")).cast("double") / count(lit(1)), 6).as("avg_tokens"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"))

  /** T5: BPE-ish subword counting — alnum runs + punctuation characters, a
    * cheap deterministic proxy for a tokenizer's piece count. */
  def t5SubwordCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_words"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("n_subwords"))
      .orderBy(col("doc_id"))

  /** T4: whole-doc + min-shingle fingerprints. */
  def t4Fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"),
        TextAnalysis.minShingleFingerprint(col("text"), ShingleK).as("shingle_fp"))
      .orderBy(col("doc_id"))

  /** T16: per-domain document cap (RefinedWeb-style): rank each source's
    * documents by quality (ties to the smallest doc_id) and keep at most
    * [[QuerySpec.DomainCap]] — the anti-boilerplate lever that stops one
    * over-crawled domain from dominating a training mix. Scale shape: the
    * score is map-side and the election is one window partitioned by the
    * domain key; at 100 TB the per-domain top-N would use the same plan
    * (rank-then-filter pushes the cap into a bounded per-key heap under
    * WindowGroupLimit — Spark rewrites rank<=k windows to TopK). */
  def t16DomainCap(s: SparkSession, d: String): DataFrame = {
    val byQuality = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
      .withColumn("rk", row_number().over(byQuality))
      .where(col("rk") <= DomainCap)
      .orderBy(col("source"), col("rk"))
  }

  // ---- Similarity search -------------------------------------------------

  /** D9: duplicate CLUSTERS — connected components over the d2 pair list
    * (pairs alone under-remove: a≈b, b≈c is one cluster even when a≉c).
    * Min-label propagation + pointer jumping, O(log diameter) rounds of
    * uniform-key joins; the oracle is a DuckDB recursive CTE computing the
    * same min-reachable-id. Every doc gets a cluster id (singletons keep
    * their own). */
  /** d9/d13's shared duplicate-cluster table, built ONCE per (sf dir,
    * threshold) per JVM and MATERIALIZED to a staged parquet dir — the
    * t18/t19 build-vs-read split (Bpe's memoized merge table) applied to
    * clustering: the pair generation + label-propagation rounds are the
    * expensive BUILD, and both d9 (publish the assignment) and d13 (the
    * keep-best policy) are readers of the same cluster assignment. A
    * staged FILE rather than a persisted frame because the bench clears
    * the cache between runs — a dropped persist would silently re-run the
    * whole build through lineage, which is exactly what made d13 the
    * worst query in the r8 record (it re-ran the d9 pipeline inline).
    * At 100 TB this is the standard shape anyway: the cluster table is a
    * written artifact consumed by the policy pass, not a subplan. */
  private def clusterTable(s: SparkSession, d: String): DataFrame = {
    val path = stagedDir("d9_clusters", s"$d@$JaccardThreshold") { dir =>
      val docs = Tables.documents(s, d)
      // guard pinned open like d2: the recursive-CTE oracle closes over
      // the exact uncapped pair set
      val pairs = Dedup.jaccardDupPairs(docs, "doc_id", "text",
        Seq("lang", "source"), JaccardThreshold, maxBlock = Long.MaxValue)
      graft.operators.Components.connectedComponents(
        docs, "doc_id", pairs, "id_a", "id_b")
        .write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(path)
  }

  def d9DupClusters(s: SparkSession, d: String): DataFrame =
    clusterTable(s, d).orderBy(col("doc_id"))

  /** D18: DUPLICATE-MULTIPLICITY CENSUS — the corpus-health histogram
    * every dedup paper reports (how much of the corpus is duplicated at
    * what multiplicity, the power-law tail that decides whether dedup is
    * worth its cost): cluster-size distribution over d9's connected
    * components. Reads the memoized staged cluster table (the
    * d13 build-once discipline), so the census itself is two tiny
    * aggregates — cluster grain, then size grain — over an id-keyed
    * scan; at 100 TB the histogram is |distinct sizes| rows. */
  def d18ClusterCensus(s: SparkSession, d: String): DataFrame =
    clusterTable(s, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz")).agg(count(lit(1)).as("n_clusters"))
      .select(col("sz").as("cluster_size"), col("n_clusters"),
        (col("sz") * col("n_clusters")).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** D13: duplicate-cluster CANONICAL SELECTION — the dedup POLICY step a
    * training pipeline runs after clustering: within each d9 duplicate
    * cluster keep the highest-QUALITY document (t2's score; ties break to
    * the smallest doc_id), not an arbitrary min-id representative — dropping
    * the best-written copy of a duplicated page is a real data-quality loss
    * at corpus scale. One row per cluster with the kept doc and the cluster
    * size. Scale shape: quality is map-side, the cluster join is id-keyed,
    * and the winner election is one window over the hash-uniform cluster id
    * (cluster sizes are bounded by the dedup relation, not the corpus). */
  def d13ClusterKeepBest(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // the memoized d9 build (clusterTable): d13 is the POLICY pass over
    // the cluster assignment, not a second clustering job
    val clusters = clusterTable(s, d)
    val qual = docs.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text"), Stopwords).as("quality"))
    val byQuality = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col("doc_id"))
    clusters.join(qual, Seq("doc_id"))
      .select(col("cluster_id"), col("doc_id"), col("quality"),
        row_number().over(byQuality).as("rk"),
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))).as("n_docs"))
      .where(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keep_id"),
        col("quality").as("keep_quality"), col("n_docs"))
      .orderBy(col("cluster_id"))
  }

  /** D14: MinHash ESTIMATION-ERROR eval — what s14 is to the ANN indexes,
    * this is to d3's MinHash: on the d2-style blocked pair space (lang ×
    * source), compare the signature estimate (fraction of the K=16 minhash
    * components that agree) against the exact token-set Jaccard, rolled up
    * by exact-Jaccard decile. The sketch-shipping eval: it calibrates the
    * band/threshold choice (how much mass sits near the 0.8 cut and how
    * noisy the estimator is there). Every output double is a single
    * correctly-rounded division over INTEGER sufficient statistics
    * (component-match counts, floor-scaled error millionths) — exact on
    * both engines, no float-order hazard, no rounding contract needed.
    * Scale shape: signatures are vocab-grain hashed once (d3's plan), the
    * pair space is blocked, and the rollup is a 10-key aggregate; at
    * 100 TB the same eval runs on a sampled block subset. */
  def d14MinhashEstError(s: SparkSession, d: String): DataFrame =
    minhashEstErrorOn(Tables.documents(s, d))

  /** D16: d14's estimator eval on a DETERMINISTIC BLOCK SAMPLE — the
    * measured form of d14's documented 100 TB mitigation ("the eval runs
    * on a sampled block subset"). The sampling unit is the candidate
    * BLOCK (lang, source), gated by the portable md5 key at rate
    * 1/CalibSampleMod — sampling whole blocks keeps every kept pair's
    * exact Jaccard intact (document sampling would bias the pair space),
    * and the hash gate is retry-stable and oracle-replayable. scale11
    * measures what d14's ×64 bend implies: pair work scales with the
    * SAMPLE, so the calibration stays cheap at any corpus size by
    * choosing the rate. */
  def d16MinhashEstSampled(s: SparkSession, d: String): DataFrame = {
    val blockKey = conv(substring(
      md5(concat(col("lang"), lit(":"), col("source"))), 1, 15), 16, 10)
      .cast("long")
    minhashEstErrorOn(
      Tables.documents(s, d).where(blockKey % CalibSampleMod === 0))
  }

  /** D17: LSH PARAMETER TUNING — the engineering question behind d3's
    * (bands, rows) choice, answered in one pass: for EVERY factorization
    * of the MinhashK signature, (a) the measured index cost on this
    * corpus (band-bucket count and candidate-pair volume — the shuffle
    * and verify bill that banding actually generates, computed as
    * Σ C(n,2) over bucket COUNTS, never materializing a pair), and
    * (b) the closed-form S-curve collision probability 1−(1−j^r)^b at
    * the Jaccard threshold (evaluated as the same left-to-right IEEE
    * multiplication chain on both engines — bit-exact without a rounding
    * contract). Reading the 5 rows together is the tuning: more bands =
    * steeper recall at the threshold but measurably more candidates —
    * (16,1) collides half the corpus into each bucket while (1,16)
    * recalls almost nothing. Scale shape: signatures are the d3/d14
    * vocab-grain build; the sweep adds ONE 31-digest map-side explode
    * and one uniform-key (combo, digest) aggregate — the whole tuning
    * table costs about one extra shuffle over the signature build. */
  def d17LshTuning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = MinhashK
    val base = Tables.documents(s, d)
      .select(col("doc_id").as("id"), Dedup.tokenSet(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
    val exploded = base.select(col("id"), explode(col("toks")).as("tok"))
    val vocab = exploded.select(col("tok")).distinct()
      .select(col("tok") +: (0 until k).map(i =>
        md5(concat(lit(s"$i:"), col("tok"))).as(s"h$i")): _*)
    val sig = exploded.join(vocab, "tok").groupBy(col("id"))
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .select(col("id") +: (0 until k).map(i =>
        conv(substring(col(s"m$i"), 1, 15), 16, 10).cast("long")
          .as(s"m$i")): _*)
    val digests = LshTuneCombos.flatMap { case (b, r) =>
      (0 until b).map { i =>
        struct(lit(b.toLong).as("b"),
          md5(concat(lit(s"$b|$i|"), concat_ws(",",
            (i * r until (i + 1) * r)
              .map(j => col(s"m$j").cast("string")): _*))).as("dg"))
      }
    }
    val census = sig.select(explode(array(digests: _*)).as("s"))
      .select(col("s.b").as("b"), col("s.dg").as("dg"))
      .groupBy(col("b"), col("dg")).agg(count(lit(1)).as("n"))
      .groupBy(col("b"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("n * (n - 1) div 2")).as("cand_pairs"))
    // closed-form S-curve at the threshold: plain left-to-right double
    // chains (the oracle folds the identical literal chain)
    val curve = LshTuneCombos.map { case (b, r) =>
      val j = MinhashThreshold
      var jr = j; for (_ <- 1 until r) jr *= j
      val q = 1.0 - jr
      var qb = q; for (_ <- 1 until b) qb *= q
      (b.toLong, (k / b).toLong, math.floor((1.0 - qb) * 1e6).toLong)
    }.toDF("b", "rows_per_band", "collision_ppm")
    census.join(curve, Seq("b"))
      .select(col("b").as("bands"), col("rows_per_band"),
        col("n_buckets"), col("cand_pairs"), col("collision_ppm"))
      .orderBy(col("bands"))
  }

  private def minhashEstErrorOn(docs: DataFrame): DataFrame = {
    val k = MinhashK
    // persisted: feeds the vocab explode AND both pair sides (d3's lesson)
    val base = docs.select(col("doc_id").as("id"), col("lang"),
        col("source"), Dedup.tokenSet(col("text")).as("toks"))
      .where(size(col("toks")) > 0).persist()
    val exploded = base.select(col("id"), explode(col("toks")).as("tok"))
    val vocab = exploded.select(col("tok")).distinct()
      .select(col("tok") +: (0 until k).map(i =>
        md5(concat(lit(s"$i:"), col("tok"))).as(s"h$i")): _*)
    // post-min conversion to 15-hex longs: the pair join below carries 16
    // signature components per SIDE, so a 32-char md5 string per component
    // (~1 KB/pair) vs a long (128 B/pair) is the dominant shuffle weight.
    // Converting AFTER the min preserves the elected component (string
    // order on hex = numeric order of the 15-hex prefix up to ties), and
    // the oracle applies the identical conversion.
    val sig = exploded.join(vocab, "tok").groupBy(col("id"))
      .agg(min(col("h0")).as("m0"),
        (1 until k).map(i => min(col(s"h$i")).as(s"m$i")): _*)
      .select(col("id") +: (0 until k).map(i =>
        conv(substring(col(s"m$i"), 1, 15), 16, 10).cast("long")
          .as(s"m$i")): _*)
    val full = base.join(sig, Seq("id"))
    val a = full.select(col("lang") +: col("source") +:
      col("id").as("id_a") +: col("toks").as("toks_a") +:
      (0 until k).map(i => col(s"m$i").as(s"ma$i")): _*)
    val b = full.select(col("lang") +: col("source") +:
      col("id").as("id_b") +: col("toks").as("toks_b") +:
      (0 until k).map(i => col(s"m$i").as(s"mb$i")): _*)
    val m = (0 until k).map(i =>
      when(col(s"ma$i") === col(s"mb$i"), 1).otherwise(0)).reduce(_ + _)
    // staged projection: the intersect is the expensive per-pair term —
    // materialize it ONCE as a column, then derive exact/bucket/err from
    // it (inline it repeats 4× per row and quadruples the codegen tree;
    // the staged form also compiles ~3× faster on first run)
    val exact = when(col("uni") > 0, col("inter") / col("uni"))
      .otherwise(lit(1.0))
    a.join(b, Seq("lang", "source")).where(col("id_a") < col("id_b"))
      .select(
        size(array_intersect(col("toks_a"), col("toks_b")))
          .cast("double").as("inter"),
        (size(col("toks_a")) + size(col("toks_b"))).cast("double")
          .as("ss"),
        m.cast("long").as("mc"))
      .withColumn("uni", col("ss") - col("inter"))
      .select(least(floor(exact * 10).cast("int"), lit(9)).as("bucket"),
        col("mc"),
        floor(abs(col("mc") / lit(k.toDouble) - exact) * 1e6 + 0.5)
          .cast("long").as("err_ppm"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("mc")).as("sum_match"),
        sum(col("err_ppm")).as("sum_err"))
      .select(col("bucket").cast("long").as("bucket"), col("n_pairs"),
        (col("sum_match").cast("double") / (col("n_pairs") * k))
          .as("mean_est"),
        (col("sum_err").cast("double") / (col("n_pairs") * 1000000L))
          .as("mean_abs_err"))
      .orderBy(col("bucket"))
  }

  /** D15: INCREMENTAL dedup — the build-once/serve-many split for the
    * MinHash-LSH family (s15's move, applied to dedup): 90% of the corpus
    * builds a persisted band+toks index, then the remaining 10% "new
    * batch" dedups against it touching the index by SCAN only (batch
    * bands and candidates broadcast — see Dedup.dedupAgainstIndex). At
    * 100 TB this is the shape that matters: daily deltas pay O(delta),
    * not a corpus re-hash. */
  def d15IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // index is a pure function of (corpus, params): build ONCE per
    // (query, sf dir) per JVM — the serve-many half of the contract
    val idx = stagedDir("d15", d) { root =>
      Dedup.buildMinhashIndex(docs.where(col("doc_id") % 10 =!= 7),
        "doc_id", "text", root, MinhashK, MinhashBands)
    }
    Dedup.dedupAgainstIndex(docs.where(col("doc_id") % 10 === 7),
      "doc_id", "text", idx, MinhashK, MinhashBands, MinhashThreshold)
      .select(col("delta_id"), col("corpus_id"),
        round(col("jaccard"), 6).as("jaccard"))
      .orderBy(col("delta_id"), col("corpus_id"))
  }

  /** D19: INCREMENTAL decontamination across corpus snapshots — the
    * nightly-refresh composition of d7 and k7: the benchmark/eval set is
    * FIXED (v1's %29 docs), the corpus moves v1 → v2 (k7's deterministic
    * snapshot pair), and yesterday's contamination table is UPDATED from
    * the snapshot delta instead of re-shingling the corpus. Yesterday's
    * table (contamination over corpus-v1) is a staged artifact — its
    * build cost is yesterday's, not tonight's; tonight pays: (1) k7's one
    * hash-partitioned full-outer diff to classify rows, (2) shingle work
    * on ONLY the added/changed docs, (3) a metadata-grain semi-join that
    * carries unchanged docs' old rows forward (removed/changed rows drop
    * by the same predicate). Output = per-lang census of v2's
    * contaminated corpus docs; the DuckDB oracle recomputes that census
    * FULL-SCAN from v2, so hash equality IS the incremental ≡ full
    * proof. At 100 TB: a daily delta is ~1% of the corpus, so the
    * shingle+join cost drops two orders while the result stays exact —
    * the same build-once/serve-many contract as d15/s15/t22, applied to
    * the decontamination gate. */
  def d19IncrementalDecontam(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = snapshotPair(s, d)
    val bench = v1.where(col("doc_id") % 29 === 0)
    val corp1 = v1.where(col("doc_id") % 29 =!= 0)
    val corp2 = v2.where(col("doc_id") % 29 =!= 0)
    // yesterday's artifact: (doc_id, n_shared) for corpus-v1 — built once
    // per (query, sf dir) per JVM, read back metadata-grain thereafter
    val prevDir = stagedDir("d19", d) { root =>
      Decontaminate.contaminatedDocs(corp1, bench, "doc_id", "text", k = 3)
        .write.mode("overwrite").parquet(s"$root/prev")
    } + "/prev"
    val prev = s.read.parquet(prevDir)
    val diff = corp1.select(col("doc_id"), col("text").as("t1"))
      .join(corp2.select(col("doc_id"), col("text").as("t2")),
        Seq("doc_id"), "full_outer")
    val carriedIds = diff
      .where(col("t1").isNotNull && col("t2").isNotNull &&
        col("t1") === col("t2"))
      .select(col("doc_id"))
    val delta = diff
      .where(col("t2").isNotNull &&
        (col("t1").isNull || col("t1") =!= col("t2")))
      .select(col("doc_id"), col("t2").as("text"))
    val incremental = prev.join(carriedIds, Seq("doc_id"), "left_semi")
      .unionByName(
        Decontaminate.contaminatedDocs(delta, bench, "doc_id", "text", k = 3))
    incremental.join(corp2.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_contaminated"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(col("n_shared")).as("sum_shared"))
      .orderBy(col("lang"))
  }

  /** S8: matryoshka-style two-stage ANN — 16-dim prefix cosine shortlists
    * 20 candidates per query, full 64-dim exact cosine re-ranks to top-5.
    * The scan side at scale is 4× lighter than s1's. */
  def s8MrlAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.mrlTopK(emb, emb.where(col("vec_id") < NumQueries),
      "vec_id", "embedding", TopK, MrlPrefixDim, MrlShortlist)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S10: index-backed MRL — the scale path for the s8 semantics: the
    * coarse stage comes from IVF cells over the prefix dimensions (map-side
    * assignment, nprobe=2) instead of a corpus×queries crossJoin, then the
    * within-cell prefix shortlist re-ranks full-dim. The plan has NO
    * broadcast-nested-loop/cartesian node (spec-locked). */
  def s10MrlIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.mrlIvfTopK(emb, emb.where(col("vec_id") < NumQueries),
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding",
      TopK, MrlPrefixDim, MrlShortlist, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** D10: SemDeDup — semantic dedup over the embedding space: IVF-cell
    * clustering (map-side assignment), then within each cell drop every
    * vector with a smaller-id cellmate at cosine ≥ SemThreshold. Survivors
    * with their cell, the keep-list a training pipeline joins back to the
    * documents. */
  def d10SemanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    Similarity.semanticDedup(emb, "vec_id", "embedding", cents, SemThreshold)
      .select(col("id").as("vec_id"), col("cell"))
      .orderBy(col("vec_id"))
  }

  /** D24: density-ADAPTIVE semantic dedup — d10 with a growing quantizer
    * (the round-10 scale12 caveat's fix). Cells whose census exceeds the
    * absolute `SemCellCap` split into floor(sqrt(n_cell)) sub-buckets
    * seeded by the cell's smallest-id members, so per-cell cost is
    * ~n^1.5 at ANY corpus size while the frozen-quantizer d10 grows it
    * as n². The DuckDB twin replays census → split decision → seed
    * election → argmax re-assignment → in-bucket dedup from scratch, so
    * a single mis-bucketed vector or a missed/spurious split
    * hash-fails. */
  def d24AdaptiveSemanticDedup(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    Similarity.adaptiveSemanticDedup(emb, "vec_id", "embedding", cents,
      SemThreshold, SemCellCap)
      .select(col("id").as("vec_id"), col("cell"), col("subcell"))
      .orderBy(col("vec_id"))
  }

  /** S12: product-quantization ANN — corpus encoded to PqM per-subspace
    * codes against the designated-row codebook, queries score candidates by
    * asymmetric distance (per-query table lookups, no per-pair vector
    * math). Top-k ascending ADC distance, ties to the smaller neighbor. */
  def s12PqAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    Similarity.pqTopK(emb, emb.where(col("vec_id") < NumQueries), cents,
      "vec_id", "embedding", TopK, PqM, EmbeddingDim)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S13: IVF-PQ — the production ANN composition: corpus cell-assigned
    * AND PQ-encoded in one map-side pass, queries probe 2 cells with their
    * precomputed ADC tables, candidates come from the cell equi-join only
    * (never a corpus crossJoin), ranked by asymmetric distance. */
  def s13IvfPq(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < NumQueries), cents,
      "vec_id", "embedding", TopK, PqM, EmbeddingDim, nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S9: one Lloyd iteration of IVF quantizer training IN the engine —
    * map-side cell assignment against the initial centroids (zero shuffle
    * before the per-cell rollup), then new centroids as exact-decimal
    * element-wise means per cell. The shuffle key is the cell id; partial
    * aggregation order cannot perturb decimal sums. Iterating = feeding
    * these means back as the next round's model (driver-side k-row
    * collect, Lloyd's algorithm's standard shape). */
  def s9KmeansStep(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val assigned = Similarity.assignCells(emb, cents, "vec_id", "embedding",
      "vid", "v", cells = 1)
    val agged = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        (0 until EmbeddingDim).map(i =>
          sum(element_at(col("v"), i + 1).cast("double")
            .cast("decimal(27,9)")).cast("double").as(s"s$i")): _*)
    agged.select(col("cell") +: col("n") +:
      (0 until EmbeddingDim).map(i =>
        round(col(s"s$i") / col("n"), 6).as(s"c$i")): _*)
      .orderBy(col("cell"))
  }

  /** S11: the FULL Lloyd training loop in the engine — s9 is one step; s11
    * runs [[Similarity.kmeans]] to its fixpoint (early stop at assignment
    * stability, capped at KmeansIters). The oracle replays the identical
    * iteration count unconditionally as a recursive CTE: once Lloyd
    * reaches its fixpoint every further step is an identity, so the
    * fixed-count replay lands on the same centroids bit-for-bit. Output
    * uses the floor fixed-point form (not round) — cross-engine-safe at
    * .5 ulp boundaries. */
  def s11KmeansTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val init = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val model = Similarity.kmeans(emb, "vec_id", "embedding", init,
      maxIters = KmeansIters, dim = EmbeddingDim)
    model.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cent_id", "cvec")
      .select(col("cent_id") +:
        (0 until EmbeddingDim).map(i =>
          (floor(element_at(col("cvec"), i + 1) * 1e6 + 0.5) / 1e6)
            .as(s"c$i")): _*)
      .orderBy(col("cent_id"))
  }

  /** PIPE1: the preprocessing funnel as ONE declarative plan — the
    * composition a training-data pipeline actually ships: quality gate →
    * language filter → exact dedup → passage-survival filter → stratified
    * sample, reporting survivors per stage.
    *
    * Stage counts come from FLAGS, not from re-running the funnel prefix
    * per stage: a naive `union(count(s0), count(s1), …)` re-scans the
    * corpus once per stage and re-shuffles every dedup grain in each later
    * branch — six full scans at 100 TB. Here the pre-dedup stages (quality,
    * language — pure row predicates) aggregate as conditional sums in ONE
    * map-side pass, and the post-dedup stages aggregate flags over the
    * funnel's single materialization: the exact-dedup winner is a
    * row_number over the fingerprint window (same min-id election as
    * [[Dedup.exactDedup]], one shuffle instead of groupBy + join-back),
    * the passage verdict joins once at doc grain, and the sample keep is
    * a deterministic predicate. Two scans, each dedup grain shuffles once. */
  def pipe1Funnel(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val fQ = TextAnalysis.qualityScore(col("text"), Stopwords) >= 0.5
    val fL = col("lang").isin("en", "es", "de")
    val head = docs.agg(
      count(lit(1)).as("s0_all"),
      sum(when(fQ, 1L).otherwise(0L)).as("s1_quality"),
      sum(when(fQ && fL, 1L).otherwise(0L)).as("s2_lang"))
    val wFp = Window
      .partitionBy(TextAnalysis.fingerprint(col("text")))
      .orderBy(col("doc_id"))
    val s3 = docs.where(fQ && fL)
      .withColumn("_rn", row_number().over(wFp))
      .where(col("_rn") === 1)
    val pd = Dedup.passageDedup(s3, "doc_id", "text", PassageK)
      .withColumnRenamed("id", "doc_id")
    // left join + null guard ≡ the original inner join: zero-token docs
    // have no passage rollup and fail the passage stage
    val fPass = col("n_passages").isNotNull &&
      lit(2) * col("n_kept") >= col("n_passages")
    val fSamp = fPass && Sampling.keep(col("doc_id"), col("lang"),
      Map("en" -> 0.25), default = 0.5)
    val tail = s3.select(col("doc_id"), col("lang"))
      .join(pd, Seq("doc_id"), "left")
      .agg(count(lit(1)).as("s3_exact_dedup"),
        sum(when(fPass, 1L).otherwise(0L)).as("s4_passage"),
        sum(when(fSamp, 1L).otherwise(0L)).as("s5_sample"))
    head.crossJoin(tail) // two one-row aggregates
      .select(expr("stack(6, 's0_all', s0_all, 's1_quality', s1_quality, " +
        "'s2_lang', s2_lang, 's3_exact_dedup', s3_exact_dedup, " +
        "'s4_passage', s4_passage, 's5_sample', s5_sample) " +
        "AS (stage, n_docs)"))
      .orderBy(col("stage"))
  }

  /** PIPE3: the embedding-aware funnel — the full modern preprocessing
    * recipe as ONE declarative plan: attach embeddings, quality-gate,
    * exact-dedup, SEMANTIC-dedup (d10's within-cell cosine cut), then the
    * deterministic stratified sample. Relational and vector stages fuse in
    * the same Catalyst plan; shuffles are the dedup grains and the cell
    * equi-join only, and stage counts aggregate flags over the funnel's
    * single materialization (see pipe1) instead of re-running the prefix
    * per stage — so the expensive semantic-dedup subtree executes once. */
  def pipe3EmbedFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val emb = Tables.embeddings(s, d)
    val joined = docs.join(
      emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
    val fQ = TextAnalysis.qualityScore(col("text"), Stopwords) >= 0.5
    // pre-dedup stage counts as conditional sums in one pass (see pipe1);
    // the docs⋈emb exchanges are identical in both branches, so the second
    // consumer reads the reused shuffle, not a second scan-and-shuffle
    val head = joined.agg(
      count(lit(1)).as("s0_all"),
      sum(when(fQ, 1L).otherwise(0L)).as("s1_quality"))
    val wFp = Window
      .partitionBy(TextAnalysis.fingerprint(col("text")))
      .orderBy(col("doc_id"))
    val s2 = joined.where(fQ)
      .withColumn("_rn", row_number().over(wFp))
      .where(col("_rn") === 1)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val surv = Similarity.semanticDedup(s2, "doc_id", "embedding", cents,
      SemThreshold)
    val fSamp = Sampling.keep(col("doc_id"), col("lang"),
      Map("en" -> 0.25), default = 0.5)
    val tail = s2.select(col("doc_id"), col("lang"))
      .join(surv.select(col("id").as("doc_id"), lit(true).as("_sv")),
        Seq("doc_id"), "left")
      .agg(count(lit(1)).as("s2_exact"),
        sum(when(col("_sv"), 1L).otherwise(0L)).as("s3_semantic"),
        sum(when(col("_sv") && fSamp, 1L).otherwise(0L)).as("s4_sample"))
    head.crossJoin(tail)
      .select(expr("stack(5, 's0_all', s0_all, 's1_quality', s1_quality, " +
        "'s2_exact', s2_exact, 's3_semantic', s3_semantic, " +
        "'s4_sample', s4_sample) AS (stage, n_docs)"))
      .orderBy(col("stage"))
  }

  /** PIPE2 (streaming parity): the pipe1 funnel run INCREMENTALLY through
    * [[graft.streaming.DocStream.ingestFunnel]] under `Trigger.AvailableNow`
    * — the corpus is delivered to a drop dir as one doc_id-ordered
    * `doc_id TAB text` file, the micro-batch funnel (quality gate → lang
    * filter → exact dedup → cross-batch passage dedup → stratified sample)
    * runs to completion, and the doc sink is read back. This is the oracle
    * row proving batch/stream parity end-to-end: the survivor SET must
    * equal the one-shot declarative funnel's (the DocStreamSpec property
    * proves delivery-split invariance; this proves the semantics against
    * the SQL twin). One deliberate divergence from pipe1: the stream
    * ANNOTATES lang from the text (langId — a fetcher has no lang column),
    * so the twin recomputes t1's language ID instead of trusting
    * `documents.lang`. */
  def pipe2StreamFunnel(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("pipe2q")
    // one sorted file = one in-order delivery (first-delivered = min doc_id,
    // matching the batch funnel's dedup winner). The drop corpus is a pure
    // function of the sf dir — staged ONCE per JVM; only the checkpoint /
    // sink / fingerprint store are per-run state.
    val drop = stagedDir("pipe2_drop", d) { root =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          concat_ws("\t", col("doc_id"), col("text")).as("value"))
        .orderBy(col("doc_id"))
        .select(col("value"))
        .coalesce(1)
        .write.text(s"$root/drop")
    } + "/drop"
    val sink = base.resolve("sink").toString
    graft.streaming.DocStream.ingestFunnel(s, drop,
      base.resolve("ckpt").toString, sink,
      base.resolve("pstore").toString,
      minQuality = 0.5, langs = Seq("en", "es", "de"), passageK = PassageK,
      sampleRates = Map("en" -> 0.25), sampleDefault = 0.5,
      markers = LangMarkers, stopwords = Stopwords,
      trigger = Trigger.AvailableNow(),
      // layout width follows STORE volume (dirs ~ store/partition target):
      // a fixture-scale corpus is a 16-dir store; 256 dirs is the 100 TB
      // default and costs ~16x the file creations per micro-batch here
      prefixHex = 1, statePartitions = 8).awaitTermination(300000)
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(new org.apache.hadoop.fs.Path(sink)))
      s.read.parquet(sink).select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    else // an all-filtered corpus writes nothing
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType))))
  }

  /** T10: PII-style redaction pass — digit runs in the raw props payload
    * replaced by '#', with the redacted-character count per event. Pure
    * map-side regex (codegen'd), the scrubbing shape a 100 TB pipeline runs
    * before anything else sees the text. */
  def t10Redaction(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("event_id"),
        regexp_replace(col("props"), "[0-9]+", "#").as("redacted"),
        (length(col("props")) -
          length(regexp_replace(col("props"), "[0-9]", "")))
          .cast("long").as("n_digit_chars"))
      .orderBy(col("event_id"))

  /** T11: corpus n-gram statistics — top-5 word bigrams per language by
    * count (ties broken lexicographically). Bigrams come from one
    * shifted-zip (no per-index re-tokenization); the count shuffle key
    * (lang, bigram) is hash-uniform. */
  def t11TopNgrams(s: SparkSession, d: String): DataFrame = {
    val toksed = Tables.documents(s, d)
      .select(col("lang"),
        transform(TextAnalysis.tokens(col("text")), t => lower(t)).as("toks"))
    val bigrams = filter(
      zip_with(col("toks"), slice(col("toks"), lit(2), size(col("toks"))),
        (a, b) => concat(a, lit(" "), b)),
      x => x.isNotNull)
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram"))
    toksed.select(col("lang"), explode(bigrams).as("bigram"))
      .groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).as("n"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= 5)
      .orderBy(col("lang"), col("rnk"))
  }

  /** T12: token document-frequency table + smoothed IDF ratio
    * (N+1)/(df+1) — kept as a raw division (IEEE division is correctly
    * rounded; ln() is only 1-ulp bounded and can differ across libm
    * implementations, so the log stays out of the oracle contract). */
  def t12DocFreq(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(col("doc_id"), explode(Dedup.tokenSet(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("token"), col("df"),
        ((col("n_docs") + 1).cast("double") / (col("df") + 1))
          .as("idf_ratio"))
      .orderBy(col("token"))
  }

  /** T17: CCNet-style unigram-LM fluency filter — train a unigram LM on
    * the corpus itself (token counts / total), score every document by its
    * mean negative log-likelihood (the perplexity exponent), and bucket
    * against the corpus-mean score (head = more fluent than average, the
    * slice CCNet keeps; tail = candidate drop). Scale shape: ONE corpus
    * scan builds the (doc, token, occ) grain (map-side combine shrinks the
    * explode shuffle); the LM derives from that same grain — the repeated
    * aggregate subtree is deduped by ReuseExchange — and is Heaps'-law
    * bounded so the score join broadcasts under AQE; the scalar total and
    * corpus mean are one-row broadcasts. The ln() lives INSIDE the rounded
    * contract: per-doc sums differ across libm/fold-order by ~1e-13, the
    * floor-to-6-decimals collapse absorbs it (same discipline as the
    * rounded cosine family; cf. t12 which keeps ln out entirely). */
  def t17LmPerplexity(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // persisted like d10's assignment subtree: dt feeds both the LM build
    // and the scoring join, scored feeds both the corpus mean and the
    // output — without the materialization each consumer re-derives the
    // whole tree (column pruning differentiates the scan schemas, so
    // ReuseExchange can't dedupe them) and the corpus is scanned 5×.
    // MEMORY_AND_DISK: at 100 TB the (doc, token, occ) grain spills — a
    // one-pass materialization, still strictly cheaper than re-scanning.
    val dt = docs.select(col("doc_id"),
      explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("occ"))
      .persist()
    val lm = dt.groupBy(col("tok")).agg(sum(col("occ")).as("cnt"))
    val total = lm.agg(sum(col("cnt")).as("total"))
    val scored = dt.join(lm, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(sum(col("occ")).as("n_toks"),
        (sum(col("occ") * -log(col("cnt").cast("double") / col("total"))) /
          sum(col("occ"))).as("nll"))
      .persist()
    val mean = scored.agg(avg(col("nll")).as("mean_nll"))
    scored.crossJoin(broadcast(mean))
      .select(col("doc_id"), col("n_toks"),
        (floor(col("nll") * 1e6 + 0.5) / 1e6).as("nll"),
        when(col("nll") <= col("mean_nll"), "head").otherwise("tail")
          .as("bucket"))
      .orderBy(col("doc_id"))
  }

  /** T30: DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling") — the targeted
    * data-selection op: score every raw doc by how much more likely its
    * tokens are under the TARGET domain's unigram LM than under the raw
    * corpus LM (add-1 smoothing over the shared raw vocab), keep docs
    * whose summed log-ratio is positive. This is the quality-filter
    * family's principled cousin: instead of hand-rules (t2/Gopher), the
    * filter is induced from a target corpus — here the en slice stands
    * in for "the domain we want more of".
    * Parity: the ONLY float op is one ln per vocab token per side,
    * floored to integer micro-nats at the TOKEN level, so every per-doc
    * rollup is an integer sum (no float-order hazard — stricter than
    * t17's double fold); no integer division anywhere (Spark `div`
    * truncates, DuckDB `//` floors — they disagree on negatives, and
    * DSIR scores are signed).
    * Scale shape: t17's exactly — the (doc, tok, occ) grain is
    * materialized once and feeds both LM builds and the scoring join;
    * LMs are vocab-grain (Heaps-bounded), constants are a 1-row
    * broadcast, scoring is a uniform-key vocab equi-join + one doc-grain
    * rollup. At 100 TB DSIR hashes n-grams into a fixed-width bucket
    * space (the paper's move) — the plan is identical with `tok`
    * replaced by a hash bucket, and the LM side gets SMALLER. */
  /** T34: DoReMi domain-mixture reweighting (Xie et al. 2023) — the
    * mixture-OPTIMIZATION step the training-data arc was missing between
    * scoring (t30 DSIR) and assembly (pipe10/pipe11): per-lang proxy loss
    * = mean token NLL under the corpus unigram LM in integer micro-nats
    * (t17's LM under t30's integer discipline), then `DoremiIters`
    * multiplicative-weights rounds against the current-mixture average
    * loss (see [[graft.operators.Doremi]]). Model-vs-data split: the
    * corpus pays ONE (lang, tok) aggregation + the vocab-grain scoring
    * join; the recurrence runs on the 5-row domain vector (the s11
    * centroid-collect precedent). The oracle replays every round as
    * generated unrolled CTEs — bit-identical integers. */
  def t34DoremiMix(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dt = Spread(Tables.documents(s, d))
      .select(col("lang"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("lang"), col("tok"))
      .agg(count(lit(1)).as("occ"))
      .persist() // feeds the LM build and the per-domain rollup
    val lm = dt.groupBy(col("tok")).agg(sum(col("occ")).as("cnt"))
    val tot = lm.agg(sum(col("cnt")).as("total"))
    val nv = lm.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor(-log(col("cnt").cast("double") / col("total")) * 1e6)
          .cast("long").as("nll_micro"))
    val losses = dt.join(nv, Seq("tok"))
      .groupBy(col("lang"))
      .agg(expr("sum(occ * nll_micro) div sum(occ)").as("loss_micro"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    Doremi.mwTrajectory(losses, DoremiIters, DoremiEtaPpm)
      .toDF("iter", "lang", "loss_micro", "alpha_ppm", "excess_micro",
        "w_ppm")
      .select(col("iter").cast("long"), col("lang"), col("loss_micro"),
        col("alpha_ppm"), col("excess_micro"), col("w_ppm"))
      .orderBy(col("iter"), col("lang"))
  }

  /** T35: competence-based curriculum schedule (Bengio et al. 2009;
    * Platanios et al. 2019 "Competence-based Curriculum Learning for
    * NMT"): rank every doc by difficulty — mean token NLL under the
    * corpus unigram LM in integer micro-nats (t17's proxy, t30's integer
    * discipline) — and unlock it at the first training stage whose
    * competence c(t) = sqrt(t/S) covers its rank: stage =
    * ceil(S·(rank/N)²), exact via (S·rank² + N²−1) div N². The global
    * difficulty rank uses d21's bucket-offset scheme on a NUMERIC key
    * (micro-nat bands) — second instance of the distributed total-rank
    * pattern, again pinned against a flat row_number oracle. Docs with no
    * tokens have no difficulty and are excluded (both engines). */
  def t35CurriculumSchedule(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dt = Spread(Tables.documents(s, d))
      .select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("occ"))
      .persist() // feeds the LM build and the per-doc difficulty rollup
    val lm = dt.groupBy(col("tok")).agg(sum(col("occ")).as("cnt"))
    val tot = lm.agg(sum(col("cnt")).as("total"))
    val nv = lm.crossJoin(broadcast(tot))
      .select(col("tok"),
        floor(-log(col("cnt").cast("double") / col("total")) * 1e6)
          .cast("long").as("nll_micro"))
    val diff = dt.join(nv, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(expr("sum(occ * nll_micro) div sum(occ)").as("nll_micro"))
    val b = diff.withColumn("bucket", expr(s"nll_micro div $CurrBandMicro"))
    val offsets = b.groupBy(col("bucket"))
      .agg(count(lit(1)).as("bn"))
      .withColumn("offset",
        coalesce(sum(col("bn")).over(Window.orderBy(col("bucket"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bucket"), col("offset"))
    val nTot = diff.agg(count(lit(1)).as("n"))
    b.join(broadcast(offsets), Seq("bucket"))
      .withColumn("rank", col("offset") + row_number().over(
        Window.partitionBy(col("bucket"))
          .orderBy(col("nll_micro"), col("doc_id"))))
      .crossJoin(broadcast(nTot))
      .select(col("doc_id"), col("nll_micro"), col("rank"),
        expr(s"($CurrStages * rank * rank + n * n - 1) div (n * n)")
          .as("stage"))
      .orderBy(col("doc_id"))
  }

  /** T36: interpolated bigram LM with absolute discounting (the
    * Kneser-Ney construction — Kneser & Ney 1995; Chen & Goodman 1999) —
    * t17's unigram perplexity upgraded to a real smoothed bigram model:
    * P(w2|w1) = max(c−D,0)/c1 + D·N1+(w1·)/c1 · N1+(·w2)/B with D = 3/4.
    * Cross-engine exactness: with D rational the probability is the
    * integer ratio [(4c−3)·B + 3·N1a·N1b] / (4·c1·B), so the ONLY float
    * work is two ln's of exact integers per DISTINCT corpus bigram,
    * floored to micro-nats at the bigram-type level (t30's discipline);
    * per-doc rollups are integer sums. P ≤ 1 holds because the other
    * continuations of w1 contribute at least N1a−1 to c1, so scores are
    * non-negative and `div` ≡ floor.
    * Scale shape: (doc, bigram) and (bigram) aggregates, two type-grain
    * context/continuation rollups, and type-grain scoring joins — every
    * shuffle keys on uniform token hashes; nothing is ever vocab² (the
    * model lives at OBSERVED-bigram grain, Heaps-bounded). */
  def t36BigramLm(s: SparkSession, d: String): DataFrame =
    graft.operators.BigramLm.docScores(Tables.documents(s, d), "doc_id",
      "text", KnDiscountNum)
      .orderBy(col("doc_id"))

  /** T37: corpus-growth census — Heaps'-law vocabulary growth and the
    * Zipf rank-frequency slope, the two statistics that size a tokenizer
    * vocabulary and a dedup index BEFORE committing to a corpus (Heaps
    * 1978; Zipf 1949): V(N) ≈ K·N^β says how vocab (and every
    * distinct-token structure: BPE merge table, IDF table, minhash
    * universe) grows as the corpus scales from the sample to 100 TB, and
    * the Zipf slope says how head-heavy the token distribution is (how
    * hot the hottest shuffle keys get). The census grain is the `VocabK`-
    * word shingle TYPE — the universe the dedup/decontamination indexes
    * (d3/d7/d20/d23) actually key on, and the grain where this corpus's
    * vocabulary genuinely grows (its unigram vocab is closed).
    *
    * Shape: ONE type-grain shuffle (shingle → min(bucket), freq) serves both
    * laws. Heaps checkpoints come from `VocabBuckets` deterministic
    * doc_id-mod buckets: cumulative vocab at checkpoint i = tokens whose
    * FIRST bucket ≤ i — a first-occurrence election, not a rolling
    * distinct (the rolling-distinct formulation is a reducer-per-prefix
    * quadratic; the election is one groupBy). Both regressions run over
    * model-sized frames (10 checkpoints, `ZipfTopN` head tokens) with the
    * t30 micro-nat convention — per-row ln quantized to integer 10⁻⁶ nats,
    * sums exact integers (partial-agg order can't wiggle a double), the
    * final OLS slope one double division rounded 4 dp. The unbounded
    * windows ride the 10-row checkpoint frame and the TopN-limited head —
    * bounded by construction. */
  def t37VocabGrowth(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    def lnMicro(c: Column): Column =
      floor(log(c.cast("double")) * lit(1000000.0) + lit(0.5)).cast("long")
    def slope(df: DataFrame, as: String): DataFrame =
      df.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(round(
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
          4).as(as))
    val tk = Tables.documents(s, d)
      .select((col("doc_id") % VocabBuckets).as("bucket"),
        explode(TextAnalysis.shingleSeq(col("text"), VocabK)).as("tok"))
    val tokStats = tk.groupBy(col("tok"))
      .agg(min(col("bucket")).as("first_b"), count(lit(1)).as("freq"))
    val perB = tk.groupBy(col("bucket")).agg(count(lit(1)).as("n_toks"))
    val firstB = tokStats.select(col("first_b").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
    val wc = w.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = perB.join(firstB, Seq("bucket"), "left")
      .select(col("bucket"), col("n_toks"),
        coalesce(col("n_new"), lit(0L)).as("n_new"))
      .withColumn("cum_toks", sum(col("n_toks")).over(wc))
      .withColumn("cum_vocab", sum(col("n_new")).over(wc))
    val head = tokStats.orderBy(col("freq").desc, col("tok")).limit(ZipfTopN)
      .withColumn("rk", row_number().over(
        w.orderBy(col("freq").desc, col("tok"))))
    val zipf = slope(head.select(lnMicro(col("rk")).as("x"),
      lnMicro(col("freq")).as("y")), "zipf_slope")
    val heaps = slope(cum.select(lnMicro(col("cum_toks")).as("x"),
      lnMicro(col("cum_vocab")).as("y")), "heaps_beta")
    cum.crossJoin(broadcast(zipf)).crossJoin(broadcast(heaps))
      .select(col("bucket").as("checkpoint"), col("n_toks"), col("n_new"),
        col("cum_toks"), col("cum_vocab"), col("zipf_slope"),
        col("heaps_beta"))
      .orderBy(col("checkpoint"))
  }

  def t30DsirWeights(s: SparkSession, d: String): DataFrame =
    dsirScores(s, d)
      .select(col("doc_id"), col("lang"), col("n_toks"), col("score_micro"),
        when(col("score_micro") > 0, 1L).otherwise(0L).as("kept"))
      .orderBy(col("doc_id"))

  /** The DSIR score table, STAGED once per (sf dir) per JVM (the
    * d13/BPE build-vs-read memo): the scores are a pure function of the
    * corpus, both t30 and pipe11 consume them, and the LM build is the
    * dominant term of both — steady bench runs read a skinny parquet
    * instead of re-training two LMs. */
  private def dsirScores(s: SparkSession, d: String): DataFrame = {
    val root = stagedDir("dsir_scores", d) { dir =>
      dsirScoredDocs(Tables.documents(s, d))
        .write.mode("overwrite").parquet(dir)
    }
    s.read.parquet(root)
  }

  /** t30's DSIR scoring over any (doc_id, lang, text) frame → one row per
    * doc: (doc_id, lang, n_toks, score_micro). [[pipe11SelectPack]] uses
    * the same scores as its selection gate. */
  private def dsirScoredDocs(docs: DataFrame): DataFrame = {
    val dt = docs
      .select(col("doc_id"), col("lang"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("tok"))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("occ"))
      .persist() // feeds raw LM, target LM, and the scoring join (t17)
    val raw = dt.groupBy(col("tok")).agg(sum(col("occ")).as("cr"))
    val tgt = dt.where(col("lang") === DsirTargetLang)
      .groupBy(col("tok")).agg(sum(col("occ")).as("ct"))
    val lm = raw.join(tgt, Seq("tok"), "left")
      .select(col("tok"), col("cr"), coalesce(col("ct"), lit(0L)).as("ct"))
    val consts = lm.agg(sum(col("cr")).as("nr"), sum(col("ct")).as("nt"),
      count(lit(1)).as("v"))
    val scoredLm = lm.crossJoin(broadcast(consts))
      .select(col("tok"),
        floor((log((col("ct") + 1).cast("double") /
            (col("nt") + col("v")).cast("double")) -
          log((col("cr") + 1).cast("double") /
            (col("nr") + col("v")).cast("double"))) * 1e6)
          .cast("long").as("lr_micro"))
    dt.join(scoredLm, Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(max(col("lang")).as("lang"),
        sum(col("occ")).as("n_toks"),
        sum(col("occ") * col("lr_micro")).as("score_micro"))
  }

  /** T18: BPE merge TRAINING ([[QuerySpec.BpeMerges]] rounds) — the
    * tokenizer-building step, in the engine (see operators/Bpe.scala for
    * the Lloyd-style scale argument: vocab-grain rounds, 1-row argmax
    * collects). The oracle is GENERATED from the same round count (t14's
    * no-drift pattern) and replays each greedy merge with a
    * gaps-and-islands parity window — provably equivalent to the engine's
    * left-to-right fold, since overlapping merge sites only arise inside
    * same-symbol runs, where both keep exactly the even offsets. All
    * outputs are strings and integer counts: no float contract at all. */
  def t18BpeMerges(s: SparkSession, d: String): DataFrame =
    Bpe.learnMerges(Tables.documents(s, d), "text", BpeMerges)
      .orderBy(col("step"))

  /** T19: tokenizer fertility evaluation — encode the corpus with the
    * BPE model t18 trains (the final vocab state IS the encoder) and
    * report per-source subword counts and fertility (subwords/word,
    * chars/subword) in parts-per-million, so every output is an integer
    * (no float hash contract). Plan shape: the encoder is vocab-grain →
    * broadcast; the exploded corpus joins it map-side; ONE shuffle total
    * (the per-source partial agg). */
  def t19BpeFertility(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val enc = Bpe.encodedVocab(docs, "text", BpeMerges)
    docs.select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("word"))
      .join(broadcast(enc), "word")
      .groupBy(col("source"))
      .agg(sum(col("n_sub")).as("bpe_tokens"),
        count(lit(1)).as("n_words"),
        sum(length(col("word")).cast("long")).as("n_chars"))
      .select(col("source"), col("bpe_tokens"), col("n_words"), col("n_chars"),
        expr("bpe_tokens * 1000000L div n_words").as("fert_ppm"),
        expr("n_chars * 1000000L div bpe_tokens").as("cpt_ppm"))
      .orderBy(col("source"))
  }

  /** A16: sequential-pattern conversion (MATCH_RECOGNIZE-lite) — for every
    * SeqEventA event, did a SeqEventB follow within SeqWithinMs? The naive
    * formulation is a per-user self-join (A×B — quadratic in events per
    * key); here the "next B at-or-after me" is a conditional min over a
    * (1 FOLLOWING, UNBOUNDED) row frame on the per-user time order, so the
    * whole pattern is ONE window pass + one aggregate on the same
    * partitioning — linear per key, single shuffle, the shape sessionizers
    * and funnel engines need at 100 TB. Integer-only outputs (ppm rate,
    * −1 sentinel for never-converted). */
  def a16SeqConvert(s: SparkSession, d: String): DataFrame = {
    val byTs = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    val nextB = min(when(col("event_type") === SeqEventB, col("ts_ms")))
      .over(byTs.rowsBetween(1, Window.unboundedFollowing))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        col("event_type"))
      .withColumn("next_b", nextB)
      .where(col("event_type") === SeqEventA)
      .withColumn("conv",
        col("next_b").isNotNull &&
          col("next_b") - col("ts_ms") <= SeqWithinMs)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_a"),
        sum(when(col("conv"), 1L).otherwise(0L)).as("n_conv"),
        coalesce(min(when(col("conv"), col("next_b") - col("ts_ms"))),
          lit(-1L)).as("min_latency_ms"))
      .withColumn("conv_ppm", expr("n_conv * 1000000L div n_a"))
      .orderBy(col("user_id"))
  }

  /** A18: TextRank (Mihalcea & Tarau 2004) — PageRank over the directed
    * token-transition graph, the graph-centrality keyword ranker. Two
    * regimes, cleanly split as a 100 TB plan must be: edge EXTRACTION is
    * corpus-grain (one shifted-zip bigram pass, map-side, then a
    * (src, dst)-grain count — this is the only step that sees the data);
    * the ITERATIONS are graph-grain — each of PrIters rounds joins the
    * edge table against the broadcast rank vector and re-aggregates by
    * dst, exactly d9/s11's model-vs-data separation. All rank mass is
    * integer (parts-per-trillion, every division a floor div), so 8 rounds
    * stay bit-identical to the generated oracle — no float drift to
    * round away. The node count is the only driver scalar (model-sized,
    * like centroid collects). */
  def a18Pagerank(s: SparkSession, d: String): DataFrame = {
    val toks = Tables.documents(s, d)
      .select(transform(TextAnalysis.tokens(col("text")),
        t => lower(t)).as("toks"))
    val bi = toks.where(size(col("toks")) >= 2)
      .select(explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("src"), b.as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val edges = bi.groupBy(col("src"), col("dst"))
      .agg(count(lit(1)).as("w"))
    val outw = edges.groupBy(col("src")).agg(sum(col("w")).as("wout"))
    val edges2 = edges.join(outw, Seq("src")).persist()
    val nodes = edges2.select(col("src").as("tok"))
      .union(edges2.select(col("dst").as("tok"))).distinct().persist()
    val n = nodes.count()
    val base = PrScale / n
    val baseTerm = (15L * base) / 100L
    var r: DataFrame = nodes.withColumn("r", lit(base))
    for (_ <- 1 to PrIters) {
      val c = edges2
        .join(broadcast(r.withColumnRenamed("tok", "src")), Seq("src"))
        .select(col("dst").as("tok"), expr("(w * r) div wout").as("c"))
        .groupBy(col("tok")).agg(sum(col("c")).as("sc"))
      // eager localCheckpoint per round: the rank frame is vocab-grain
      // (model-sized), and truncating the lineage keeps each round's plan
      // one join deep instead of compiling an 8-broadcast-deep DAG at the
      // terminal action (the s18 lesson: analysis cost, not execution,
      // dominates chained iteration plans)
      r = nodes.join(c, Seq("tok"), "left")
        .select(col("tok"),
          (lit(baseTerm) + expr("(85 * coalesce(sc, 0L)) div 100")).as("r"))
        .localCheckpoint()
    }
    r.select(col("tok"), col("r").as("rank_ppt"))
      .orderBy(col("rank_ppt").desc, col("tok"))
  }

  /** T21: BM25 keyword retrieval (Robertson/Spärck Jones; Lucene idf form
    * ln(1 + (N − df + 0.5)/(df + 0.5))) — the curation-side retrieval
    * primitive (mine a 100 TB corpus for docs matching a topic probe).
    * Scale shape: occurrences FILTER to the query terms before anything
    * shuffles (the isin sits against the explode, so corpus rows that
    * match no term never leave the map side); df (|terms| rows) and the
    * corpus stats (one row) broadcast back; the final global top-k is a
    * TakeOrderedAndProject, not a full sort. */
  def t21Bm25(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
        transform(TextAnalysis.tokens(col("text")), t => lower(t)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    val stats = docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
      .where(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("tok"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfreq = tf.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    tf.join(broadcast(dfreq), Seq("tok")).crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf") * lit(Bm25K1 + 1) /
        (col("tf") +
          lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("contrib")).as("sc"))
      .orderBy(col("sc").desc, col("doc_id"))
      .limit(Bm25TopK)
      .select(col("doc_id"), col("n_hits"), round(col("sc"), 6).as("score"))
  }

  /** T22: inverted-index build + serve — the index-backed twin of t21's
    * scan-time BM25 (the s15/d15 build-once/serve-many move, for text).
    * BUILD: one corpus pass explodes occurrences into (tok, doc_id, dl,
    * tf) postings written partitioned by a term-hash bucket, plus a 1-row
    * corpus-stats table. SERVE: the query terms' buckets are computed with
    * the same xxhash64 (a |terms|-row collect — model-sized, like
    * centroids), and the probe scan statically prunes to those partition
    * directories (spec-locked): at 100 TB the serve I/O is the probed
    * posting lists, never the corpus. df per term derives from its own
    * bucket's postings (a term's postings are complete within its bucket),
    * so the serve side reproduces t21's exact BM25 top-k — and shares its
    * oracle. */
  def t22PostingsServe(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"),
        transform(TextAnalysis.tokens(col("text")), t => lower(t)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
    // postings + stats are pure functions of (corpus, bucketing): build
    // ONCE per (query, sf dir) per JVM, serve from the staged index
    val idx = stagedDir("t22", d) { root =>
      docs.select(col("doc_id"), col("dl"), explode(col("toks")).as("tok"))
        .groupBy(col("tok"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).cast("double").as("tf"))
        .withColumn("bucket",
          pmod(xxhash64(col("tok")), lit(PostingsBuckets)))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$root/postings")
      docs.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
        .write.mode("overwrite").parquet(s"$root/stats")
    }
    val buckets = s.createDataset(Bm25Terms)(Encoders.STRING)
      .select(pmod(xxhash64(col("value")), lit(PostingsBuckets)).as("b"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val p = s.read.parquet(s"$idx/postings")
      .where(col("bucket").isin(buckets: _*) &&
        col("tok").isin(Bm25Terms: _*))
    val stats = s.read.parquet(s"$idx/stats")
    val dfreq = p.groupBy(col("tok"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    p.join(broadcast(dfreq), Seq("tok")).crossJoin(broadcast(stats))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf") * lit(Bm25K1 + 1) /
        (col("tf") +
          lit(Bm25K1) * (lit(1 - Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), sum(col("contrib")).as("sc"))
      .orderBy(col("sc").desc, col("doc_id"))
      .limit(Bm25TopK)
      .select(col("doc_id"), col("n_hits"), round(col("sc"), 6).as("score"))
  }

  /** T20: chunk-level corpus dedup that REWRITES documents — the
    * RefinedWeb/CCNet line-dedup semantics (no newlines in this corpus, so
    * the "line" unit is a non-overlapping LineChunk-token run). A chunk
    * appearing in ≥ LineDupDocs distinct docs is deleted from EVERY doc
    * and each doc is reassembled in chunk order; unlike d8 (flags docs by
    * duplicated sliding passages) this edits the corpus and emits the new
    * content hash. Scale shape: chunking is map-side O(n) per doc
    * (non-overlapping, so no quadratic slice blowup); the duplicated-chunk
    * census and anti-join shuffle at chunk-hash grain (uniform keys);
    * reassembly groups by doc_id with an array_sort on collected (idx,
    * chunk) structs — per-doc state, never a global window. */
  def t20LineDedup(s: SparkSession, d: String): DataFrame = {
    val k = LineChunk
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        transform(TextAnalysis.tokens(col("text")), t => lower(t)).as("toks"))
      .withColumn("n_chunks", expr(s"(size(toks) + ${k - 1}) div $k")
        .cast("long"))
    val chunks = base
      .where(col("n_chunks") > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0), (col("n_chunks") - 1).cast("int")),
          i => concat_ws(" ", slice(col("toks"), i * k + 1, lit(k)))))
          .as(Seq("idx", "chunk")))
    val common = chunks.groupBy(col("chunk"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= LineDupDocs)
      .select(col("chunk"))
    val agg = chunks.join(common, Seq("chunk"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_surv"),
        array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("chunk")))),
          s => s("chunk")), " ").as("new_text"))
    base.join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        (col("n_chunks") - coalesce(col("n_surv"), lit(0L))).as("n_removed"),
        md5(coalesce(col("new_text"), lit(""))).as("new_md5"))
      .orderBy(col("doc_id"))
  }

  /** S1: brute-force cosine top-k. */
  def s1CosineTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.cosineTopK(emb, emb.where(col("vec_id") < NumQueries),
      "vec_id", "embedding", TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S2: sign-LSH bucketed ANN. */
  def s2LshAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.lshTopK(emb, emb.where(col("vec_id") < NumQueries),
      "vec_id", "embedding", LshTopK, LshBits, EmbeddingDim)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S3: IVF-flat ANN (probe=1) with a fixed centroid table. */
  def s3IvfAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < NumQueries),
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding", IvfTopK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S15: PERSISTED IVF index — the production serving shape s3 implies:
    * the index BUILD (map-side cell assignment) runs once and writes the
    * corpus partitioned BY CELL; the query path reads the index back and
    * probes cells through the cell equi-join, so Spark's dynamic partition
    * pruning restricts the scan to the probed cells' directories — on a
    * 100 TB index, queries pay for `nprobe/k` of the corpus IN I/O, not
    * just in compute (s3 re-assigns the in-memory corpus per run; this is
    * the build-once/serve-many split). Results are bit-identical to s3's
    * probe=1 semantics over the same quantizer (same oracle modulo names). */
  def s15IvfIndexPersist(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    // the persisted index is the point of s15: build ONCE per (query,
    // sf dir) per JVM, serve through DPP against the staged cells
    val idx = stagedDir("s15", d) { root =>
      Similarity.assignCells(emb, cents, "vec_id", "embedding",
        "neighbor_id", "cv", 1)
        .write.mode("overwrite").partitionBy("cell").parquet(s"$root/ivf")
    } + "/ivf"
    val q = Similarity.assignCells(emb.where(col("vec_id") < NumQueries),
      cents, "vec_id", "embedding", "query_id", "qv", 1)
    val c = s.read.parquet(idx).withColumn("cell", col("cell").cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    c.join(broadcast(q), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= IvfTopK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"), round(col("sim"), 6).as("sim"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Deterministic embedding-store snapshot pair (k7's idea on the vector
    * plane): v2 = v1 with %13 ids REMOVED, %9 ids PERTURBED (each element
    * mixed with its cyclic right neighbor, `x_i + 0.5·x_{i%d+1}` — a
    * direction change, since pure scaling is cosine-invariant), and %11
    * ids duplicated as ADDED vectors under offset ids. All branches cast
    * to double so the union is type-stable; the same fixed IEEE algebra
    * replays in the oracle. */
  private def embSnapshotPair(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val v1 = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val dbl = transform(col("embedding"), x => x.cast("double"))
    val shifted = concat(
      slice(col("embedding"), 2, EmbeddingDim - 1),
      slice(col("embedding"), 1, 1))
    val perturbed = zip_with(col("embedding"), shifted,
      (a, b) => a + lit(0.5) * b)
    val v2 = v1.where(col("vec_id") % 13 =!= 0)
      .select(col("vec_id"),
        when(col("vec_id") % 9 === 0, perturbed).otherwise(dbl)
          .as("embedding"))
      .unionByName(v1.where(col("vec_id") % 11 === 0)
        .select((col("vec_id") + lit(10000000L)).as("vec_id"),
          dbl.as("embedding")))
    (v1, v2)
  }

  /** S22: ANN index STALENESS census — the ops question every persisted
    * vector index (s15/s19) eventually answers: the corpus moved v1 → v2
    * under a FROZEN quantizer, so per cell, how much of the posting list
    * is stale (rows removed or moved away) and how much of the current
    * corpus is missing (rows added or moved in)? One full-outer diff of
    * (indexed assignment — a staged metadata read, no vector math) vs
    * (current assignment — one map-side argmax pass over v2), then two
    * model-sized censuses; stale_ppm = (removed + moved_out)·1e6 div
    * n_indexed is the per-cell reindex-pressure number a nightly job
    * alerts on (s19's merge path is the repair; this is the detector).
    * The oracle recomputes BOTH assignments and the perturbation algebra
    * from scratch, so a single mis-assigned or mis-classified vector
    * hash-fails. */
  def s22IndexStaleness(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val idxDir = stagedDir("s22idx", d) { root =>
      Similarity.assignCells(emb, cents, "vec_id", "embedding", "id", "v", 1)
        .select(col("id"), col("cell"))
        .write.mode("overwrite").parquet(s"$root/idx")
    } + "/idx"
    val (_, v2) = embSnapshotPair(s, d)
    val cur = Similarity.assignCells(v2, cents, "vec_id", "embedding",
      "id", "v", 1).select(col("id"), col("cell").as("cell_cur"))
    val idx = s.read.parquet(idxDir)
      .withColumnRenamed("cell", "cell_idx")
    val flags = idx.join(cur, Seq("id"), "full_outer")
      .select(col("id"), col("cell_idx"), col("cell_cur"),
        col("cell_cur").isNull.as("removed"),
        col("cell_idx").isNull.as("added"),
        (col("cell_idx").isNotNull && col("cell_cur").isNotNull &&
          col("cell_idx") =!= col("cell_cur")).as("moved"))
    val fromSide = flags.where(col("cell_idx").isNotNull)
      .groupBy(col("cell_idx").as("cell"))
      .agg(count(lit(1)).as("n_indexed"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved_out"))
    val toSide = flags.where(col("cell_cur").isNotNull)
      .groupBy(col("cell_cur").as("cell"))
      .agg(count(lit(1)).as("n_current"),
        sum(when(col("added"), 1L).otherwise(0L)).as("n_added"),
        sum(when(col("moved"), 1L).otherwise(0L)).as("n_moved_in"))
    fromSide.join(toSide, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_indexed"), lit(0L)).as("n_indexed"),
        coalesce(col("n_current"), lit(0L)).as("n_current"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("n_added"), lit(0L)).as("n_added"),
        coalesce(col("n_moved_out"), lit(0L)).as("n_moved_out"),
        coalesce(col("n_moved_in"), lit(0L)).as("n_moved_in"))
      .withColumn("stale_ppm",
        expr("(n_removed + n_moved_out) * 1000000 div greatest(n_indexed, 1)"))
      .orderBy(col("cell"))
  }

  /** PIPE14: the ANN index MAINTENANCE LIFECYCLE as one spine — the
    * nightly loop a production 100 TB vector store runs, composing four
    * oracle-green parts: s22's staleness census (detect) → a threshold
    * decision on stale_ppm (decide) → s11's Lloyd update restricted to
    * the drifted cells (re-train) + s19's frozen-quantizer carry for the
    * rest (merge) → s14's recall check against brute force (verify).
    *
    * The corpus moved v1 → v2 under a quantizer Q trained on v1 and a
    * persisted index of v1. Cells whose stale_ppm exceeds
    * [[graft.queries.QuerySpec.Pipe14StalePpm]] get their centroid
    * re-trained as ONE Lloyd step over their CURRENT members (the
    * mini-batch k-means update; [[Similarity.kmeans]] with the drifted
    * centroids as init — a member's nearest cell among the drifted
    * subset is its full-Q cell, since that cell beat ALL cells, so the
    * 1-iter run computes exactly the per-drifted-cell dec9 means).
    * Non-drifted centroids stay frozen, giving the updated quantizer Q'.
    *
    * The index is then maintained INCREMENTALLY by delta scoring: a
    * standing row whose vector didn't change keeps its indexed cell iff
    * (a) its cell wasn't re-trained and (b) the max cosine over the
    * |changed| re-trained centroids ([[Similarity.maxSim]]) is < its
    * stored assignment sim — under the (sim desc, cell asc) argmax
    * order this is PROVABLY the full-rebuild assignment: every other
    * frozen centroid was already beaten at s1 with larger-id ties, and
    * ties against a changed centroid conservatively re-score. Everything
    * else (perturbed, added, drifted-cell, contested rows) takes the
    * full k-way argmax under Q'. The DuckDB twin builds the final index
    * as a FULL REBUILD (every v2 row argmax'd over Q'), so the per-cell
    * census hash equality (counts + id sums + id min/max) PROVES
    * incremental ≡ full rebuild, not merely that two engines ran the
    * same shortcut. The recall check serves the maintained index at
    * probe=[[QuerySpec.Pipe14Probe]] against the v2 brute-force truth.
    *
    * Scale shape: detect is a metadata (id-grain) join + cell-grain
    * census; decide is a model-sized collect; re-train touches only
    * drifted members; carried rows pay ONE cosine + |changed| delta
    * scores map-side (vs k for a rebuild); only the changed/contested
    * minority pays the full argmax; serve is the s15 cell-join. The
    * id-grain index⋈corpus join is the one shuffle — bucket both by id
    * at 100 TB and it goes Exchange-free. If |changed| approaches k the
    * delta scoring degenerates to a rebuild — the stale_ppm threshold is
    * exactly the knob that bounds |changed|. */
  def pipe14IndexLifecycle(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    // the persisted v1 index under Q — (id, cell) metadata, s22's layout
    val idxDir = stagedDir("pipe14idx", d) { root =>
      Similarity.assignCells(emb, cents, "vec_id", "embedding", "id", "v", 1)
        .select(col("id"), col("cell"))
        .write.mode("overwrite").parquet(s"$root/idx")
    } + "/idx"
    val (_, v2) = embSnapshotPair(s, d)
    val staged = s.read.parquet(idxDir)

    // DETECT: per-cell staleness of the persisted index vs the current
    // corpus assignment under the FROZEN quantizer (s22's algebra).
    // `cur` feeds two sequential driver actions (census collect, re-train
    // rollup) — batch-persist, released before the serving plan is built.
    val cur = Similarity.assignCells(v2, cents, "vec_id", "embedding",
      "id", "v", 1).persist()
    val driftRows = staged
      .join(cur.select(col("id"), col("cell").as("cell_cur")), Seq("id"),
        "left")
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_indexed"),
        sum(when(col("cell_cur").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("cell_cur").isNotNull && col("cell_cur") =!= col("cell"),
          1L).otherwise(0L)).as("n_moved_out"))
      .withColumn("stale_ppm",
        expr("(n_removed + n_moved_out) * 1000000 div greatest(n_indexed, 1)"))
      .select(col("cell"), col("stale_ppm"),
        (col("stale_ppm") > Pipe14StalePpm).cast("long").as("drifted"))
      .collect() // DECIDE: cell-count-sized (a hyperparameter, not data)
    val driftedCells = driftRows.filter(_.getLong(2) == 1L)
      .map(_.getLong(0)).toSet
    // RE-TRAIN: one Lloyd update over the drifted cells' current members
    val driftedInit = cents.filter { case (id, _) => driftedCells(id) }
    val retArr =
      if (driftedInit.isEmpty) Array.empty[(Long, Array[Double])]
      else Similarity.kmeans(
        cur.where(col("cell").isin(driftedCells.toSeq: _*)),
        "id", "v", driftedInit, maxIters = 1, dim = EmbeddingDim)
    cur.unpersist()
    val retMap = retArr.toMap
    val qp = cents.map { case (id, v0) => (id, retMap.getOrElse(id, v0)) }

    // MERGE/REPAIR: carried rows keep their indexed cell by delta
    // scoring; changed/drifted/contested rows take the full argmax on Q'
    val unchanged = v2
      .where(col("vec_id") % 9 =!= 0 && col("vec_id") < 10000000L)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val centDf = broadcast(cents.toSeq.map { case (id, c) => (id, c.toSeq) }
      .toDF("cell", "cvec"))
    val maxNew =
      if (retArr.isEmpty) lit(Double.NegativeInfinity)
      else Similarity.maxSim(retArr, col("v"))
    val flagged = unchanged.join(staged, Seq("id"))
      .join(centDf, Seq("cell"))
      .withColumn("s1", Similarity.cosine(col("v"), col("cvec")))
      .withColumn("max_new", maxNew)
    val keepCond = !col("cell").isin(driftedCells.toSeq: _*) &&
      col("max_new") < col("s1")
    val kept = flagged.where(keepCond)
      .select(col("id"), col("v"), col("cell"), lit(true).as("carried"))
    val changed = v2
      .where(col("vec_id") % 9 === 0 || col("vec_id") >= 10000000L)
      .select(col("vec_id").as("id"), col("embedding").as("v"))
    val toReassign = changed
      .unionByName(flagged.where(!keepCond).select(col("id"), col("v")))
    val reassigned = Similarity
      .assignCells(toReassign, qp, "id", "v", "id", "v", 1)
      .select(col("id"), col("v"), col("cell"), lit(false).as("carried"))
    // one materialization, two consumers (census + serve) — the s18 rule
    val finalIdx = kept.unionByName(reassigned).localCheckpoint()

    // VERIFY: recall@k of the maintained index vs the v2 brute truth
    val queries = v2.where(col("vec_id") < NumQueries)
    val qAss = Similarity.assignCellsRanked(queries, qp, "vec_id",
      "embedding", "query_id", "qv", Pipe14Probe)
    val cand = finalIdx.join(broadcast(qAss), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("v")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("id"))
    val test = cand.withColumn("rank", row_number().over(wq))
      .where(col("rank") <= IvfTopK)
      .select(col("query_id"), col("id").as("neighbor_id"),
        lit(1L).as("hit"))
    val truth = Similarity.cosineTopK(v2, queries, "vec_id", "embedding",
      IvfTopK).select(col("query_id"), col("neighbor_id"))
    val recallRow = truth.join(test, Seq("query_id", "neighbor_id"), "left")
      .agg(count(lit(1)).as("tot"),
        sum(coalesce(col("hit"), lit(0L))).as("hits"))
      .select(expr("hits * 1000000 div tot").as("recall_ppm"))

    val census = finalIdx.groupBy(col("cell"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("carried"), 1L).otherwise(0L)).as("n_carried"),
        sum(when(!col("carried"), 1L).otherwise(0L)).as("n_reassigned"),
        sum(col("id")).as("id_sum"),
        min(col("id")).as("id_min"),
        max(col("id")).as("id_max"))
    val driftDf = driftRows.toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toDF("cell", "stale_ppm", "drifted")
    driftDf.join(census, Seq("cell"), "full_outer")
      .select(col("cell"), col("stale_ppm"), col("drifted"),
        coalesce(col("n_total"), lit(0L)).as("n_total"),
        coalesce(col("n_carried"), lit(0L)).as("n_carried"),
        coalesce(col("n_reassigned"), lit(0L)).as("n_reassigned"),
        coalesce(col("id_sum"), lit(0L)).as("id_sum"),
        coalesce(col("id_min"), lit(-1L)).as("id_min"),
        coalesce(col("id_max"), lit(-1L)).as("id_max"))
      .crossJoin(broadcast(recallRow)) // 1-row aggregate
      .orderBy(col("cell"))
  }

  /** S16: contrastive pair mining (SimCSE/DPR-style) — for each query
    * vector, the top-2 most-similar SAME-label neighbors (positives) and
    * the top-3 most-similar DIFFERENT-label neighbors (hard negatives)
    * out of the IVF-probed cells (probe=2 so near-boundary queries see
    * their cross-cell hard negatives). Candidate generation is the s3/s15
    * cell equi-join with labels carried through the assignment — never a
    * corpus×queries crossJoin; the pair election is one window per
    * (query, pair_type). The op that turns a labeled 100 TB embedding
    * store into an embedding-model training set. */
  /** S23: RANK-QUALITY census — MRR and nDCG@k of the served IVF ranking
    * against the brute-force truth. s14 reports set RECALL; ranking
    * quality (did the relevant hits come FIRST?) is what a RAG deployment
    * actually tunes, and the standard report is MRR + nDCG. Relevance is
    * binary truth membership, so DCG = Σ rel_r·w_r with the rank weights
    * w_r = floor(1e6/log2(r+1)+0.5) precomputed ONCE in Scala
    * ([[QuerySpec.NdcgWeightsMicro]]) and injected as INTEGER literals
    * into both engines — the whole metric is exact integer arithmetic at
    * query time, no cross-engine log/float seam (the a18 PrScale
    * discipline applied to IR metrics). MRR likewise: 1e6 div the first
    * relevant rank. Candidates come from the s3 cell equi-join (probe=2,
    * so near-boundary queries see cross-cell hits) — never a corpus
    * crossJoin; truth is the documented query-batch-sized brute baseline.
    * idcg = Σ w_r (truth always serves k rows at these corpus sizes);
    * ndcg_ppm = dcg·1e6 div idcg. */
  def s23RankMetrics(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < NumQueries)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val c = Similarity.assignCells(emb, cents, "vec_id", "embedding",
      "neighbor_id", "cv", 1)
    val q = Similarity.assignCellsRanked(queries, cents, "vec_id",
      "embedding", "query_id", "qv", S16Probe)
    val cand = c.join(broadcast(q), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val test = cand.withColumn("rank", row_number().over(wq))
      .where(col("rank") <= IvfTopK)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"))
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      IvfTopK).select(col("query_id"), col("neighbor_id"),
        lit(1L).as("rel"))
    val wArr = typedlit(NdcgWeightsMicro)
    val idcg = NdcgWeightsMicro.sum
    test.join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(
        sum(coalesce(col("rel"), lit(0L))).as("hits"),
        coalesce(max(when(col("rel").isNotNull,
          expr("1000000 div rank"))), lit(0L)).as("mrr_micro"),
        sum(when(col("rel").isNotNull,
          element_at(wArr, col("rank").cast("int"))).otherwise(lit(0L)))
          .as("dcg"))
      .select(col("query_id"), col("hits"), col("mrr_micro"),
        expr(s"dcg * 1000000 div ${idcg}L").as("ndcg_ppm"))
      .orderBy(col("query_id"))
  }

  def s16HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.contrastivePairs(emb, emb.where(col("vec_id") < NumQueries),
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding",
      "label", PosK, NegK, S16Probe)
      .orderBy(col("query_id"), col("pair_type"), col("rank"))
  }

  /** S19: INCREMENTAL INDEX MERGE — the maintenance op that keeps s15's
    * persisted IVF index alive without rebuilds (FAISS `add` semantics):
    * a delta batch is assigned cells under the FROZEN quantizer (pure
    * map-side vs the broadcast centroid model) and APPENDED to the
    * cell-partitioned store — only the touched cells' directories gain
    * files; standing cell files stay byte-identical (the k1/upsert
    * discipline applied to an index). The census reads the MERGED index
    * back — proving the round-trip — and reports, per cell: standing
    * count, added count, total, and the mean vector-to-centroid cosine
    * of standing vs added rows (integer-ppm sums, one division — d14's
    * no-float-order idiom). Diverging means are the re-train signal: a
    * quantizer frozen too long stops fitting the data distribution
    * (centroid drift), and this census is exactly the monitoring query
    * that decides when s11's full Lloyd re-train pays for itself.
    * Scale shape: delta assignment is O(delta) map-side work, the append
    * writes only touched partitions, the census is one cell-grain
    * aggregate over the index scan — at 100 TB daily deltas pay O(delta)
    * while the census stays a metadata-cheap single pass (or runs on the
    * delta alone with standing stats carried forward). */
  def s19IndexMerge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val isDelta = col("vec_id") >= NumCentroids &&
      col("vec_id") % S19DeltaMod === 0
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val root = stagedDir("s19_idx", d) { dir =>
      // epoch 1: the standing index (s15's layout, delta rows absent)
      Similarity.assignCells(emb.where(!isDelta), cents, "vec_id",
        "embedding", "nid", "cv", 1)
        .withColumn("is_delta", lit(false))
        .write.mode("overwrite").partitionBy("cell").parquet(dir)
      // epoch 2: THE MERGE — frozen-quantizer assignment, append-only
      Similarity.assignCells(emb.where(isDelta), cents, "vec_id",
        "embedding", "nid", "cv", 1)
        .withColumn("is_delta", lit(true))
        .write.mode("append").partitionBy("cell").parquet(dir)
    }
    val centDf = cents.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("cell", "cvec")
    s.read.parquet(root)
      .withColumn("cell", col("cell").cast("long"))
      .join(centDf, Seq("cell"))
      .withColumn("sim_ppm",
        floor(Similarity.cosine(col("cv"), col("cvec")) * 1e6 + 0.5)
          .cast("long"))
      .groupBy(col("cell"))
      .agg(sum(when(!col("is_delta"), 1L).otherwise(0L)).as("n_old"),
        sum(when(col("is_delta"), 1L).otherwise(0L)).as("n_add"),
        count(lit(1)).as("n_total"),
        sum(when(!col("is_delta"), col("sim_ppm")).otherwise(0L))
          .as("old_ppm"),
        sum(when(col("is_delta"), col("sim_ppm")).otherwise(0L))
          .as("add_ppm"))
      .select(col("cell"), col("n_old"), col("n_add"), col("n_total"),
        when(col("n_old") > 0, col("old_ppm").cast("double") /
          (col("n_old") * lit(1000000L)).cast("double"))
          .otherwise(lit(0.0)).as("mean_old_sim"),
        when(col("n_add") > 0, col("add_ppm").cast("double") /
          (col("n_add") * lit(1000000L)).cast("double"))
          .otherwise(lit(0.0)).as("mean_add_sim"))
      .orderBy(col("cell"))
  }

  /** S20: recall-vs-nprobe SWEEP — the tuning curve every IVF deployment
    * ships with (FAISS's nprobe knob): IVF recall@k against the
    * brute-force truth at each sweep setting, in ONE plan. The sweep
    * trick: the query side is assigned its max(nprobe) nearest cells
    * ONCE with the probe rank attached ([[Similarity.assignCellsRanked]]),
    * the corpus joins that candidate set once, and each setting is a
    * filter `probe_rank <= p` + a candidate-bounded top-k window — the
    * corpus is never re-assigned or re-joined per setting. The candidate
    * frame is localCheckpointed (one materialization, |settings| + 1
    * consumers — the s18 rule). Truth is the documented brute baseline
    * (query-batch-sized broadcast). Recall in integer ppm. Monotonicity
    * in nprobe is spec-locked; the curve's knee tells a deployment where
    * the recall/IO tradeoff stops paying. */
  def s20NprobeSweep(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < NumQueries)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val c = Similarity.assignCells(emb, cents, "vec_id", "embedding",
      "neighbor_id", "cv", 1)
    val q = Similarity.assignCellsRanked(queries, cents, "vec_id",
      "embedding", "query_id", "qv", NprobeSweep.max)
    val cand = c.join(broadcast(q), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("probe_rank"),
        col("sim"))
      .localCheckpoint()
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      TopK)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("tr"))
      .localCheckpoint()
    val hits = NprobeSweep.map { p =>
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("neighbor_id"))
      cand.where(col("probe_rank") <= p)
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= TopK)
        .join(truth, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("tr"), lit(0L))).as("hits"))
        .select(lit(p.toLong).as("nprobe"), col("query_id"), col("hits"))
    }.reduce(_ unionByName _)
    queries.select(col("vec_id").as("query_id"))
      .crossJoin(NprobeSweep.map(_.toLong).toDF("nprobe"))
      .join(hits, Seq("nprobe", "query_id"), "left")
      .select(col("nprobe"), col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, 0) * 1000000 div $TopK").as("recall_ppm"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** S21: FILTERED ANN — top-k restricted to a metadata predicate (here:
    * same label as the query — "more like this, same category"), the
    * production retrieval shape every vector store grows into. The filter
    * is applied PRE-search: the label predicate restricts the corpus side
    * BEFORE the cell join, which at 100 TB sits in the parquet scan right
    * next to the DPP cell pruning (s15) — the index pays for matching
    * rows in probed cells only. The contract also carries the
    * POST-filter evidence per query: run the same probe unfiltered,
    * label-filter the top-k AFTERWARDS (`post_hits` ≤ k) — the recall
    * collapse that makes post-filtering the wrong default is IN the
    * hash-compared output, not a code comment. Probes widen to
    * `S21Probe` cells: a filter thins every cell, so the filtered search
    * needs more cells for the same candidate mass — the knob production
    * couples to filter selectivity. */
  def s21FilteredAnn(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val cents = Similarity.collectCentroids(
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding")
    val corp = Similarity.assignCells(emb, cents, "vec_id", "embedding",
      "neighbor_id", "cv", 1, carry = Seq("label"))
    val q = Similarity.assignCells(emb.where(col("vec_id") < NumQueries),
      cents, "vec_id", "embedding", "query_id", "qv", S21Probe,
      carry = Seq("label"))
      .withColumnRenamed("label", "q_label")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    val cand = corp.join(broadcast(q), Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", Similarity.cosine(col("qv"), col("cv")))
      .select(col("query_id"), col("neighbor_id"), col("label"),
        col("q_label"), col("sim"))
      .localCheckpoint() // feeds both strategies; one cell join, not two
    val pre = cand.where(col("label") === col("q_label"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= IvfTopK)
    val post = cand
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= IvfTopK && col("label") === col("q_label"))
      .groupBy(col("query_id")).agg(count(lit(1)).as("post_hits"))
    pre.join(post, Seq("query_id"), "left")
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("neighbor_id"), round(col("sim"), 6).as("sim"),
        coalesce(col("post_hits"), lit(0L)).as("post_hits"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** S14: ANN recall@k — the evaluation every approximate index ships
    * with: sign-LSH hits against the brute-force cosine ground truth, per
    * query (LSH is the engine's lossiest index — single-bucket candidates
    * genuinely miss neighbors, so the metric shows real recall spread; IVF
    * probe=1 scores 1.0 across this fixture). Both rankings are the
    * engine's own operators composed in one plan; the truth side is
    * query-batch-sized, so the hit join is a tiny co-partitioned equi-join
    * and recall = hits / truth-set size in exact small-integer division. */
  def s14AnnRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val queries = emb.where(col("vec_id") < NumQueries)
    val truth = Similarity.cosineTopK(emb, queries, "vec_id", "embedding",
      TopK)
    val approx = Similarity.lshTopK(emb, queries, "vec_id", "embedding",
      TopK, LshBits, EmbeddingDim)
    truth.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("hit")), Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("hit"), lit(0L))).cast("double") /
        count(lit(1))).as("recall"))
      .orderBy(col("query_id"))
  }

  /** T7: intra-document repetition ratio — the share of a doc's word
    * 3-grams that are repeats of an earlier 3-gram (a Gopher/C4-style
    * quality filter: high ratio = boilerplate/spam). Pure map-side. */
  def t7Repetition(s: SparkSession, d: String): DataFrame = {
    val total = greatest(TextAnalysis.tokenCount(col("text")) - 2, lit(0))
      .cast("long")
    val dis = size(TextAnalysis.shingleHashes(col("text"), 3)).cast("long")
    Tables.documents(s, d)
      .select(col("doc_id"), total.as("total_3grams"), dis.as("distinct_3grams"))
      .withColumn("rep_ratio", round(
        when(col("total_3grams") > 0,
          lit(1.0) - col("distinct_3grams").cast("double") / col("total_3grams"))
          .otherwise(0.0), 6))
      .orderBy(col("doc_id"))
  }

  /** T8: exact interpolated quantiles of document length per language —
    * Spark `percentile` and DuckDB `quantile_cont` share the same
    * rank = q·(n−1) linear-interpolation definition, so the doubles match
    * bit-for-bit. (The APPROX family is a9's tolerance contract; this is
    * the exact-percentile agg.) */
  def t8LengthQuantiles(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        percentile(col("n_chars"), lit(0.5)).as("p50"),
        percentile(col("n_chars"), lit(0.9)).as("p90"),
        percentile(col("n_chars"), lit(0.99)).as("p99"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("lang"))

  /** T9: sequence packing for training batches — assign docs to
    * fixed-budget sequences by exclusive prefix sum of length, per language
    * (per-key windows, never a global single-task window; packing is
    * per-shard in practice). Budget 4096 = 2^12 so the double division is
    * exact and floor matches bit-for-bit cross-engine. */
  def t9SequencePacking(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        coalesce(sum(col("n_chars")).over(w), lit(0L)).as("prefix_chars"))
      .withColumn("seq_id",
        floor(col("prefix_chars") / lit(4096.0)).cast("long"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** S6: IVF ANN with nprobe=2 — same quantizer as s3, each query probes its
    * two nearest cells (the recall knob; neighbors just across a cell
    * boundary come back). A corpus vector lives in exactly one cell, so no
    * dedup is needed after the probe union. */
  def s6IvfProbe2(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.ivfTopK(emb, emb.where(col("vec_id") < NumQueries),
      emb.where(col("vec_id") < NumCentroids), "vec_id", "embedding", IvfTopK,
      nprobe = 2)
      .orderBy(col("query_id"), col("rank"))
  }

  /** S7: brute-force ANN over int8-quantized embeddings — 4× smaller
    * vectors, integer dot products (exact in every engine), rescaled to an
    * approximate similarity. The memory-bound variant of s1. */
  def s7Int8Ann(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    Similarity.quantizedTopK(emb, emb.where(col("vec_id") < NumQueries),
      "vec_id", "embedding", TopK)
      .orderBy(col("query_id"), col("rank"))
  }

  /** J11: POINT-IN-TIME join against the SCD2 dimension — the
    * feature-store correctness shape: each purchase probe joins the dim
    * VERSION valid at its own event time ([valid_from, valid_to)
    * half-open, so a probe landing exactly on a change boundary takes the
    * new version — and with same-ms changes the empty [t,t) interval of
    * the displaced version can never match). Composes w13's build as its
    * input. Scale shape: equi-join on user_id carries the shuffle (both
    * sides co-partition); the interval predicate is a residual filter
    * inside the matched key group, never a nested-loop — at 100 TB the
    * dim's per-user version chain is the only thing a key group holds. */
  def j11PitJoin(s: SparkSession, d: String): DataFrame = {
    val dim = w13Scd2(s, d)
      .select(col("user_id"), col("version"), col("state"),
        col("valid_from_ms"), col("valid_to_ms"))
    // probes ask "what state was the user in 6 h AFTER the purchase" —
    // shifted so the answer is a genuine lookup (a probe at its own ts
    // would trivially land in the version it opened)
    val probes = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .select(col("user_id"),
        (col("ts_ms") + lit(6L * 3600000L)).as("ts_ms"), col("value"))
    probes.join(dim, Seq("user_id"))
      .where(col("ts_ms") >= col("valid_from_ms") &&
        col("ts_ms") < col("valid_to_ms"))
      .groupBy(col("state"))
      .agg(count(lit(1)).as("n_probes"),
        dsum(col("value")).as("total_value"),
        max(col("ts_ms") - col("valid_from_ms")).as("max_age_ms"),
        countDistinct(col("user_id") * lit(1000000L) + col("version"))
          .as("n_versions"))
      .orderBy(col("state"))
  }

  /** M4: batched decode/inference — the multimodal batch shape run
    * END-TO-END: payloads stream through mapPartitions in ≤64-row
    * micro-batches (one stub "model call" each — see
    * [[graft.operators.Multimodal.batchInferSums]]), and the batched JVM
    * compute is cross-checked bit-for-bit against a declarative SQL twin
    * of the same integer byte-lane sums. Proves the seam a real GPU
    * decoder drops into: same signature, same plan, same oracle. */
  /** M6: multimodal SHARD MANIFEST — the webdataset-style packing census
    * for (payload, caption) pairs: records hash into PackShards shards
    * (the same deterministic portable-key shuffle as pipe8, but records
    * are ATOMIC — a pair never splits across shards), and each shard row
    * reports its pair count, payload bytes (n_chars stands in for the
    * opaque image column — m1/m2's convention), caption tokens (m5's
    * ClipCapTokens cap), a BALANCE ratio against the ideal bytes/shard
    * (shard skew stretches a training epoch to its slowest shard — this
    * census is what you alert on), and a content DIGEST. The digest is
    * deliberately ORDER-INDEPENDENT — sum over records of the portable
    * md5 key mod 1e9+7 — so it aggregates map-side with bounded state;
    * a collect_list-then-hash manifest would put corpus/shards ids in
    * one reducer's memory, the exact trap the census exists to avoid.
    * Integrity check = recompute the digest after any copy/move (k1's
    * crash-safety story applied to training shards). */
  def m6ShardManifest(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("mshard:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        least(size(TextAnalysis.tokens(col("text"))), lit(ClipCapTokens))
          .cast("long").as("cap_toks"))
      .withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(PackShards)))
    val shards = base.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("n_chars")).as("payload_bytes"),
        sum(col("cap_toks")).as("caption_toks"),
        sum(col("h") % 1000000007L).as("digest"))
    shards.crossJoin(broadcast(
        base.agg(sum(col("n_chars")).as("tb"))))
      .select(col("shard"), col("n_pairs"), col("payload_bytes"),
        col("caption_toks"),
        expr(s"payload_bytes * 1000000 div (tb div $PackShards)")
          .as("balance_ppm"),
        col("digest"))
      .orderBy(col("shard"))
  }

  def m4BatchInfer(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
    graft.operators.Multimodal
      .batchInferSums(docs, "doc_id", "payload", dim = 8, stride = 4,
        batchSize = 64)
      .select(col("doc_id") +:
        (0 until 8).map(i => element_at(col("sums"), i + 1).as(s"s$i")) :+
        col("n_bytes"): _*)
      .orderBy(col("doc_id"))
  }

  /** M5: multimodal pair filtering — the CLIP-score curation gate (LAION's
    * "drop pairs whose image/text embeddings disagree"): each (content,
    * caption) pair gets both sides embedded, cosine-scored, and kept iff
    * sim ≥ threshold. Embeddings here are the deterministic stand-in for
    * the model encoders (the m4 stub contract): a hashed bag-of-words into
    * `ClipDim` dims via the portable md5 key — computed MAP-SIDE from
    * staged per-token dim arrays (one md5 per token, then 32 cheap integer
    * filters; no explode, no shuffle). Misaligned pairs are synthesized by
    * swapping every `ClipShiftMod`-th doc's caption with the NEXT doc's
    * (one 1-offset equi-join — at 100 TB the pair table simply arrives as
    * rows and this join disappears). Per-pair verdict out; the filter is
    * honestly imperfect (96% aligned kept / 51% shifted dropped at the
    * fixture — exactly the CLIP-filter trade-off). Scale shape: embed +
    * score are one fused projection over the pair scan; nothing
    * corpus-wide moves but the output sort. */
  def m5PairFilter(s: SparkSession, d: String): DataFrame = {
    val tokHash = (x: Column) => pmod(
      conv(substring(md5(x), 1, 15), 16, 10).cast("long"),
      lit(ClipDim.toLong))
    val bow = (dims: Column) =>
      transform(sequence(lit(0L), lit(ClipDim - 1L)), dd =>
        size(filter(dims, h => h === dd)).cast("double"))
    val toks = Tables.documents(s, d)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
    val caps = toks.select(col("doc_id"),
      slice(col("toks"), 1, ClipCapTokens).as("cap"))
    val nextCap = caps.select((col("doc_id") - 1).as("doc_id"),
      col("cap").as("next_cap"))
    toks.join(caps, Seq("doc_id")).join(nextCap, Seq("doc_id"), "left_outer")
      .withColumn("shifted",
        col("doc_id") % ClipShiftMod === 0 && col("next_cap").isNotNull)
      .withColumn("capt",
        when(col("shifted"), col("next_cap")).otherwise(col("cap")))
      // staged projections (the m3 lesson): md5 once per token, then the
      // 32 dim-filters run over small int arrays
      .select(col("doc_id"), col("shifted"),
        transform(col("toks"), tokHash).as("cdims"),
        transform(col("capt"), tokHash).as("qdims"))
      .select(col("doc_id"), col("shifted"),
        bow(col("cdims")).as("cv"), bow(col("qdims")).as("qv"))
      // gate on the ROUNDED similarity so the keep verdict inherits the
      // 6dp cross-engine parity contract — comparing the raw double left a
      // 1-ulp window where Spark and the oracle could disagree at the
      // threshold boundary even with identical fold order
      .withColumn("sim",
        round(Similarity.cosine(col("cv"), col("qv")), 6))
      .select(col("doc_id"), col("shifted"),
        (col("sim") >= ClipThreshold).as("kept"),
        col("sim"))
      .orderBy(col("doc_id"))
  }

  /** J12: FUZZY join (entity resolution) — probes with one deterministic
    * character deletion rejoin their source rows via PassJoin segment
    * blocking (Li, Deng, Feng 2011, "PASS-JOIN: a partition-based method
    * for similarity joins") + banded edit-distance verify. Each part
    * name splits into two halves keyed (len, segNo, segment); by
    * pigeonhole a distance-≤1 match's single edit misses one half, so
    * that half appears EXACTLY in the probe — as its prefix (seg 1, no
    * edits before it) or its suffix (seg 2, no edits after it). The
    * probe emits those prefixes/suffixes for each target length in
    * len±1 (6 keys). Segment keys are ~12-char half-titles — near
    * unique — where (len, 2-gram) blocking left 10.9 M candidate pairs
    * on this corpus (measured; with PassJoin the same join runs 1.9 s
    * steady at sf0.1, down from 49 s under gram blocking on the worst
    * fixture column). The ER-blocking scale rule made concrete:
    * block-key SELECTIVITY, not key count, bounds the verify stage; the
    * probe side is the query batch and broadcasts (d15's rule). Both
    * engines' levenshtein
    * is the classic DP — value-exact; the engine's verify is the banded
    * threshold form (O(len), not O(len²)).
    *
    * The entity string is the document's 4-token title prefix (4 740
    * distinct over 5 000 docs at sf0.1) — the fixture's one
    * high-cardinality natural string. (First attempts used p_name —
    * 64 distinct values in 20 k rows, so EVERY blocking scheme
    * degenerates to value-groups — and c_name, whose shared
    * "Customer#" prefix makes segment 1 one giant block: fuzzy-join
    * blocking presumes entity-like key cardinality, which is itself
    * worth knowing about the operator.) */
  def j12FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        array_join(slice(transform(TextAnalysis.tokens(col("text")),
          t => lower(t)), 1, 4), " ").as("p_name"))
      .where(length(col("p_name")) >= 4)
    val h = conv(substring(md5(concat(lit("typo:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val probes = base.where(h % 5 === 0)
      .withColumn("pos", (h % length(col("p_name"))) + 1)
      .select(col("doc_id").as("probe_id"),
        concat(expr("substring(p_name, 1, cast(pos as int) - 1)"),
          expr("substring(p_name, cast(pos as int) + 1, 1000000)"))
          .as("q_name"))
    // entity side: two segment keys (len | segNo | half)
    val pk = base.select(col("doc_id"), col("p_name"), col("lang"),
      explode(expr("""array(
        concat(length(p_name), '|1|',
               substring(p_name, 1, length(p_name) div 2)),
        concat(length(p_name), '|2|',
               substring(p_name, length(p_name) div 2 + 1, 1000000)))"""))
        .as("bk"))
    // probe side: for each target length n in len±1, the prefix of
    // length n div 2 (where seg 1 must surface) and the suffix of
    // length n - n div 2 (where seg 2 must surface)
    val qKeys = Seq(-1, 0, 1).map { dl =>
      val n = s"(length(q_name) + ($dl))"
      Seq(
        s"concat($n, '|1|', substring(q_name, 1, $n div 2))",
        s"concat($n, '|2|', substring(q_name, " +
          s"length(q_name) - ($n - $n div 2) + 1, 1000000))")
    }
    val qk = probes.select(col("probe_id"), col("q_name"),
      explode(expr(qKeys.flatten.mkString("array(", ", ", ")"))).as("bk"))
    // verify BEFORE dedup: the banded DP (threshold=1 → O(len) per pair,
    // not O(len²)) is cheaper than shuffling the name-carrying candidate
    // rows through a distinct, so duplicates from double-key hits are
    // verified twice and deduped after, id-grain only
    // the probe side here is a hash-selected ~20% of the corpus ×6 keys —
    // corpus-proportional, NOT batch-sized — so no broadcast hint: AQE
    // sizes the join at runtime (broadcasts while the probe set is small,
    // flips to a shuffle join when a real probe batch grows past the
    // threshold). A caller with a genuinely bounded batch gets the
    // map-side join from AQE for free.
    qk.join(pk, Seq("bk"))
      .where(expr("levenshtein(q_name, p_name, 1)").between(0, 1))
      .select(col("probe_id"), col("doc_id"), col("lang")).distinct()
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("probe_id")).as("n_probes_matched"),
        sum(when(col("probe_id") === col("doc_id"), 1L).otherwise(0L))
          .as("n_self_matches"))
      .orderBy(col("lang"))
  }

  /** O8: balanced range sharding — the global-sort layout move
    * (repartitionByRange + one file per shard) made ORACLE-CHECKABLE:
    * Spark's RangePartitioner draws sampled, nondeterministic boundaries,
    * so the invariants it promises (contiguous key ranges, balanced
    * counts) are proven here with exact interpolated-percentile
    * boundaries instead (one 1-row aggregate, broadcast back; shard id =
    * #boundaries ≤ x, a fold over the 7-element array). Per-shard
    * count/min/max prove contiguity and ±quantization balance. At 100 TB
    * the boundaries come from approxQuantile at 1e-4 relative error and
    * the write is `repartitionByRange(n).sortWithinPartitions` — same
    * invariants, sampled boundaries. */
  def o8RangeShards(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d).select(col("l_extendedprice").as("x"))
    val bnds = li.agg(percentile(col("x"),
      array((1 to 7).map(i => lit(i / 8.0)): _*)).as("bnds"))
    li.crossJoin(broadcast(bnds))
      .select(col("x"), aggregate(col("bnds"), lit(0),
        (acc, b) => acc + when(col("x") >= b, 1).otherwise(0)).as("shard"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("x")).as("min_x"), max(col("x")).as("max_x"))
      .select(col("shard").cast("long").as("shard"), col("n_rows"),
        col("min_x"), col("max_x"))
      .orderBy(col("shard"))
  }

  /** A20: robust outlier detection per group — median/MAD z-scores (the
    * quality-filter shape that survives heavy tails where mean/stddev
    * outlier cuts don't). Two exact-percentile aggregates with broadcast
    * join-backs (group-grain model rows, never a row-data collect); the
    * flag is a pure comparison |x − med| > 3·MAD, so the whole pipeline
    * is deterministic double math the oracle reproduces bit-for-bit
    * (interpolated percentiles match across engines — a13's proof). At
    * 100 TB both percentiles swap to approx_percentile, same two-pass
    * shape. */
  def a20MadOutliers(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = ev.join(broadcast(med), Seq("event_type"))
      .select(col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("adev"))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
          .as("n_outliers"))
      .orderBy(col("event_type"))
  }

  /** PIPE4: pack-and-shard EXPORT — the training-data last mile run
    * end-to-end through the store: Gopher quality gate (t15's five
    * rules) → exact dedup (d1's first-occurrence winner) → per-lang
    * fixed-budget sequence packing (t9's exclusive prefix sum) → shard
    * assignment by portable hash of (lang, seq) → a partitionBy(lang,
    * shard) parquet export, READ BACK and censused, so a row lost,
    * duplicated, or mis-sharded in the write/readback breaks the oracle
    * hash (k4's store-roundtrip gate applied to the export). Scale
    * shape: the gate and shard key are map-side; dedup shuffles at
    * fingerprint grain; packing windows per lang (never a global
    * window); the export writes one file per (lang, shard) because the
    * frame is repartitioned BY the partition columns first (DocStream's
    * small-files rule). */
  /** PIPE5: the SURVEY §7.3 minimum end-to-end slice as an ORACLE row —
    * the whole ingest spine closed in one query: a kline sink is SEEDED
    * with exactly the hours where the sf dir's events table has data (so
    * the seed, and therefore every number below, is data-dependent), the
    * gap engine scans the holes, the fetch planner paginates them
    * (limit = FetchLimit), the fixture endpoint serves the missing
    * klines, the adapter normalizes, the UNIQUE-key sink upserts — and
    * the re-scan + watermark table prove closure. The oracle is closed
    * form BECAUSE the spine is deterministic: n_seeded = the events
    * table's distinct (type, hour) count, n_fetched = grid − seeded,
    * n_rows = the full 720-hour grid, max_ts = the last grid hour,
    * re-scan gaps = 0. Any break in W1-W3 gap math, W4 pagination, P1
    * normalization, or K1 upsert semantics moves a number → red row.
    * Scale shape: everything is the production flow itself (per-exchange
    * sequential fetch task, partition-pruned upsert); the only fixture is
    * the endpoint. */
  def pipe5BackfillClosure(s: SparkSession, d: String): DataFrame = {
    import graft.flows.SyncKlines
    val hourMs = HourMs
    val sink = scratchDir("pipe5").toString + "/kline_1h"
    val hours = Tables.events(s, d)
      .select(col("event_type").as("symbol"),
        (expr(s"ts_ms div $hourMs") * hourMs).as("h"))
      .distinct()
      // WITHHOLD every 5th present hour from the seed (hour-index % 5 == 0)
      // so the backfill always has in-range work at EVERY sf: at sf0.1 the
      // events grid is saturated and an all-present-hours seed left the
      // closure a measured no-op (n_fetched = 0 — the r14 sanity census
      // caught it; the oracle, computing the same closed form, stayed
      // green). The withheld hours re-fetch through the full spine.
      .where(expr(s"(h div $hourMs) % 5") =!= 0)
    // seed bodies: the present hours rendered as binance-shaped kline JSON
    // (same fixture shape the endpoint serves — the seed IS an earlier
    // partial sync)
    val bodies = hours.groupBy(col("symbol"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
      .select(col("symbol"), concat(lit("["),
        array_join(transform(col("hs"), ts => concat(lit("["),
          ts.cast("string"),
          lit(",\"100.1\",\"101.2\",\"99.3\",\"100.5\",\"7.5\","),
          (ts + lit(hourMs - 1)).cast("string"),
          lit(",\"750.0\",42,\"1\",\"1\",\"0\"]"))), ","),
        lit("]")).as("body"))
    SyncKlines.load(s, sink,
      graft.sources.KlineAdapters.binance(bodies, 9, 1, hourMs))
    // seeded counts from the SOURCE grid (hours is already distinct), not
    // a lazy read of the sink: the upsert below swaps the sink's files,
    // and a pre-run listing evaluated post-run would read dead paths
    val nSeeded = hours.groupBy(col("symbol"))
      .agg(count(lit(1)).as("n_seeded"))
    val keys = hours.select(col("symbol")).distinct()
      .select(lit(9).cast("short").as("exchange_id"),
        lit(1).cast("byte").as("inst_type"), col("symbol"))
    SyncKlines.run(s, sink, keys, "binance", 9, 1, hourMs,
      RangeStartMs, LastHourMs, limit = FetchLimit, mergeWithinMs = 0L)(
      Pipe5Fixtures.serve)
    val after = s.read.parquet(sink)
    val wm = after.groupBy(col("symbol"))
      .agg(max(col("ts")).as("max_ts"), count(lit(1)).as("n_rows"))
    val gapsAfter = GapEngine.gapPlan(
      after.select(col("exchange_id"), col("inst_type"), col("symbol"),
        col("ts")),
      keys, SyncKlines.KeyCols, "ts", hourMs, RangeStartMs, LastHourMs, 0L)
      .groupBy(col("symbol")).agg(count(lit(1)).as("n_gaps"))
    nSeeded.join(wm, Seq("symbol"))
      .join(gapsAfter, Seq("symbol"), "left")
      .select(col("symbol"), col("n_seeded"),
        (col("n_rows") - col("n_seeded")).as("n_fetched"), col("n_rows"),
        col("max_ts"), coalesce(col("n_gaps"), lit(0L)).as("n_gaps_after"))
      .orderBy(col("symbol"))
  }

  def pipe4PackExport(s: SparkSession, d: String): DataFrame = {
    val (rWords, rMeanLen, rSymbol, rAlpha, rStop) = gopherRules(col("text"))
    val surv = Tables.documents(s, d)
      .where(rWords && rMeanLen && rSymbol && rAlpha && rStop)
    val wf = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
    val ded = surv.withColumn("fp", md5(col("text")))
      .withColumn("_rn", row_number().over(wf)).where(col("_rn") === 1)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val wp = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val packed = ded
      .withColumn("seq_id", floor(coalesce(sum(col("n_chars")).over(wp),
        lit(0L)) / lit(4096.0)).cast("long"))
      .withColumn("shard", conv(substring(md5(concat(lit("shard:"),
        col("lang"), lit(":"), col("seq_id").cast("string"))), 1, 15),
        16, 10).cast("long") % 4)
    val root = stagedDir("pipe4", d) { r =>
      packed.repartition(col("lang"), col("shard"))
        .write.partitionBy("lang", "shard").parquet(s"$r/export")
    } + "/export"
    s.read.parquet(root)
      .groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("seq_id")).as("n_seqs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"))
      .select(col("lang"), col("shard").cast("long").as("shard"),
        col("n_docs"), col("n_seqs"), col("total_chars"),
        col("min_doc_id"))
      .orderBy(col("lang"), col("shard"))
  }

  /** A21: MERGEABLE sketch rollup — the incremental-aggregation story a9
    * only hints at: per-day HLL sketches (Apache DataSketches via
    * hll_sketch_agg) union across days into a range estimate WITHOUT
    * touching row data again — the pre-aggregated daily tier a 100 TB
    * pipeline keeps so "distinct users last N days" is a k-row sketch
    * merge, not a rescan. Contract columns per the a9/a13 pattern: exact
    * values hash-compared, the merged estimate gated by a tolerance flag
    * (the oracle expects literal true — a drifting sketch breaks the
    * hash), plus union monotonicity (merged ≥ any single day's exact). */
  def a21SketchUnion(s: SparkSession, d: String): DataFrame = {
    val dayMs = 24L * HourMs
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"),
      ((col("ts_ms") - lit(RangeStartMs)) / dayMs).cast("long").as("day"))
    val daily = ev.groupBy(col("event_type"), col("day"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("n_day_exact"))
    val merged = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"),
        max(col("n_day_exact")).as("max_day_exact"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    merged.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_days"), col("n_exact"),
        col("max_day_exact"),
        (abs(col("est") - col("n_exact")).cast("double") /
          col("n_exact") < 0.05).as("merged_ok"),
        (col("est") >= col("max_day_exact")).as("monotone_ok"))
      .orderBy(col("event_type"))
  }

  /** A29: sketch set-OVERLAP via inclusion–exclusion — the third leg of
    * the sketch story (a9 estimates one set, a21 merges a partitioned
    * set; this intersects two): |A∩B| ≈ est(A) + est(B) − est(A∪B), with
    * the union estimated from the two sketches' merge (hll_union) — so
    * "how many users do segments A and B share" is answered from the
    * per-segment sketch tier a 100 TB pipeline already keeps, no row
    * rescan and no user-grain pair join. Segments here are purchase-day
    * cohorts (the repeat-buyer overlap matrix — day-grain user sets
    * genuinely differ, unlike this corpus's event types, which every user
    * touches). The error scales with the UNION
    * (each of the three estimates is ±~1.6% of its own cardinality, all ≤
    * |A∪B|), which is exactly why production keeps the EXACT pair join
    * (one user-grain shuffle, here too) for the segments that matter and
    * the sketch path for the n² dashboard grid. Contract columns: exact
    * values hash-compared, the sketch estimate gated by a union-scaled
    * tolerance flag (literal true in the oracle — a drifting sketch
    * breaks the hash). */
  def a29SketchOverlap(s: SparkSession, d: String): DataFrame = {
    val dayMs = 24L * HourMs
    val ev = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .select(((col("ts_ms") - lit(RangeStartMs)) / dayMs).cast("long")
        .as("seg"), col("user_id"))
      .where(col("seg") < OverlapDays)
      .distinct()
    val per = ev.groupBy(col("seg"))
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        count(lit(1)).as("n_exact"))
    // |days| rows — the pair grid is model-sized and broadcasts
    val inter = ev.select(col("seg").as("seg_a"), col("user_id"))
      .join(ev.select(col("seg").as("seg_b"), col("user_id")),
        Seq("user_id"))
      .where(col("seg_a") < col("seg_b"))
      .groupBy(col("seg_a"), col("seg_b"))
      .agg(count(lit(1)).as("n_inter_exact"))
    val a = per.select(col("seg").as("seg_a"),
      col("sk").as("sk_a"), col("n_exact").as("n_a_exact"))
    val b = per.select(col("seg").as("seg_b"),
      col("sk").as("sk_b"), col("n_exact").as("n_b_exact"))
    inter.join(broadcast(a), Seq("seg_a")).join(broadcast(b), Seq("seg_b"))
      .withColumn("n_union_exact",
        col("n_a_exact") + col("n_b_exact") - col("n_inter_exact"))
      .withColumn("est_inter",
        hll_sketch_estimate(col("sk_a")) + hll_sketch_estimate(col("sk_b"))
          - hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
      .select(col("seg_a"), col("seg_b"), col("n_a_exact"),
        col("n_b_exact"), col("n_inter_exact"), col("n_union_exact"),
        (abs(col("est_inter") - col("n_inter_exact")).cast("double") <=
          lit(0.08) * col("n_union_exact")).as("overlap_ok"))
      .orderBy(col("seg_a"), col("seg_b"))
  }

  /** T25: content-defined chunking (the LBFS/rsync rolling-hash move,
    * Muthitacharoen 2001): a chunk boundary falls AFTER token j wherever
    * the 3-gram ending at j hashes to 0 mod 8 — so chunk boundaries are
    * CONTENT-anchored and an insertion early in a document only redraws
    * the one chunk it lands in, unlike fixed-width chunking (t20's grid)
    * where every downstream chunk shifts. The storage-side dedup
    * primitive: per-lang census of chunk count, distinct fingerprints
    * (the dedup ratio), and size profile. Everything is per-doc array
    * math (map-side, no explode until the chunk-grain census); the only
    * shuffle is the lang+fingerprint aggregate. Expected chunk length is
    * the modulus (8 tokens) — at 100 TB the modulus is the dial that
    * trades dedup granularity against index size. */
  def t25CdcChunks(s: SparkSession, d: String): DataFrame = {
    val chunked = Tables.documents(s, d)
      .select(col("lang"),
        transform(TextAnalysis.tokens(col("text")), t => lower(t))
          .as("toks"))
      .where(size(col("toks")) > 0)
      .withColumn("ends", TextAnalysis.cdcEnds(col("toks"), 8))
      .select(col("lang"),
        explode(TextAnalysis.cdcChunks(col("toks"), col("ends"))).as("c"))
    chunked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("c.fp")).as("n_distinct"),
        sum(col("c.len")).as("total_len"),
        max(col("c.len")).as("max_len"))
      .orderBy(col("lang"))
  }

  /** T38: sliding-WINDOW chunker with overlap + provenance — the
    * RAG/context-window chunking standard (fixed `ChunkTokens`-token
    * windows at stride C−O), complementing t25's content-DEFINED chunks:
    * fixed windows give a uniform retrieval grain and stable token
    * budgets; the (start_tok, n_tokens) provenance maps any chunk back
    * into its document; the md5 fingerprint is the join key every
    * downstream dedup/embedding table uses. Chunk count is the exact
    * integer ceil `(n−C+S−1) div S + 1` (never a float — the d20 ceil
    * lesson), the tail chunk keeps its short length, and a doc at or
    * under C tokens is exactly one chunk. Pure map-side: one explode
    * over a per-doc start sequence, zero shuffles (the orderBy is
    * presentation) — at 100 TB this fuses into the scan. */
  def t38WindowChunks(s: SparkSession, d: String): DataFrame = {
    val stride = ChunkTokens - ChunkOverlap
    Tables.documents(s, d)
      .select(col("doc_id"),
        transform(TextAnalysis.tokens(col("text")), t => lower(t))
          .as("toks"))
      .where(size(col("toks")) > 0)
      .withColumn("n", size(col("toks")).cast("long"))
      .withColumn("nch",
        when(col("n") <= ChunkTokens, lit(1L))
          .otherwise(
            expr(s"(n - $ChunkTokens + $stride - 1) div $stride + 1")))
      .select(col("doc_id"), col("toks"), col("n"),
        explode(sequence(lit(0L), col("nch") - 1)).as("chunk_idx"))
      .withColumn("start_tok", col("chunk_idx") * stride)
      .withColumn("n_tokens",
        least(lit(ChunkTokens.toLong), col("n") - col("start_tok")))
      .withColumn("chunk_fp", md5(concat_ws(" ",
        slice(col("toks"), (col("start_tok") + 1).cast("int"),
          col("n_tokens").cast("int")))))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_tokens"), col("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** T26: HTML → clean-text extraction (jusText/trafilatura line rules; see
    * [[graft.operators.HtmlExtract]]) — the from-raw-web front door that
    * runs before any other text operator. Each document is wrapped in a
    * DETERMINISTIC synthetic page (head/script/style + link-only nav +
    * `<p>` content blocks + ad div + footer, same string algebra on both
    * engines); the extractor must strip script/style wholesale, classify
    * each block by word count and integer link density, and recover
    * exactly the article text (clean fingerprint + Gopher gate on the
    * extract). Every stage is a map-side projection over STAGED columns
    * (toks → html → blocks → features: per-index lambdas never re-derive
    * a subtree — the shingleHashes lesson), so at 100 TB this fuses into
    * the scan and shuffles nothing. */
  def t26HtmlExtract(s: SparkSession, d: String): DataFrame = {
    val paged = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        HtmlExtract.syntheticPage(col("doc_id"), col("lang"), col("source"),
          col("toks")).as("html"))
    val feats = paged
      .select(col("doc_id"), HtmlExtract.blocks(col("html")).as("blocks"))
      .select(col("doc_id"),
        HtmlExtract.blockFeatures(col("blocks")).as("fs"))
      .select(col("doc_id"), col("fs"),
        HtmlExtract.cleanText(col("fs")).as("clean"))
    val (rWords, rMeanLen, rSymbol, rAlpha, rStop) = gopherRules(col("clean"))
    feats.select(
      col("doc_id"),
      size(col("fs")).cast("long").as("n_blocks"),
      size(filter(col("fs"), f => f.getField("keep")))
        .cast("long").as("n_kept"),
      aggregate(col("fs"), lit(0L),
        (acc, f) => acc + f.getField("anchors")).as("link_chars"),
      size(TextAnalysis.tokens(col("clean"))).cast("long").as("clean_words"),
      length(regexp_replace(col("clean"), " ", ""))
        .cast("long").as("clean_chars"),
      md5(col("clean")).as("fp"),
      when(rWords && rMeanLen && rSymbol && rAlpha && rStop, 1)
        .otherwise(0).as("passes"))
      .orderBy(col("doc_id"))
  }

  /** T27: URL canonicalization + URL-keyed dedup — the identity pass a
    * crawl corpus runs BEFORE any content pass (C4/RefinedWeb dedup on the
    * normalized URL first; content dedup only sees URL-unique survivors).
    * Raw URLs are synthesized deterministically
    * ([[UrlNormalize.syntheticUrl]]: 3-doc article groups under case/www/
    * port/slash/tracking/param-order/fragment noise, with an http variant
    * that must NOT collapse into its https cluster), canonicalized by the
    * RFC 3986 §6 rules ([[UrlNormalize.canonical]] — pure map-side column
    * algebra fused into the scan), then clustered: cluster_size and a
    * min-doc_id keep election over the canonical key. The window partitions
    * on the high-cardinality uniform canonical URL — at 100 TB this is the
    * ordinary hash shuffle a URL dedup costs, nothing more. */
  def t27UrlDedup(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("canon_url"))
    Tables.documents(s, d)
      .select(col("doc_id"), UrlNormalize.syntheticUrl(col("doc_id")).as("raw_url"))
      .withColumn("canon_url", UrlNormalize.canonical(col("raw_url")))
      .withColumn("cluster_size", count(lit(1)).over(w))
      .withColumn("keep",
        when(col("doc_id") === min(col("doc_id")).over(w), 1).otherwise(0))
      .orderBy(col("doc_id"))
  }

  /** T28: hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    * Büttcher 2009) — the sparse+dense fusion every modern retrieval stack
    * runs: BM25 (t21's ranker) and embedding-cosine ANN (s1's ranker) each
    * produce a depth-limited ranked list, and a doc's fused score is
    * Σ 1/(k + rank) over the lists it appears in, k=60. Scores are integer
    * parts-per-trillion (`PrScale div (k + rank)`) so the fusion is
    * bit-exact in both engines; with depth ≤ 10 any doc present in BOTH
    * lists provably outranks any single-list doc (2/(60+10) > 1/(60+1) —
    * spec-pinned). Scale shape: each ranker is its own depth-K top-k (the
    * BM25 side only moves term-matching occurrences; the dense side's
    * documented brute baseline has the s15 DPP-pruned IVF serve as its
    * production twin), and the fusion itself joins two ≤K-row lists — the
    * rank windows and the full-outer join are list-sized, never
    * corpus-sized. */
  def t28HybridRrf(s: SparkSession, d: String): DataFrame = {
    // rank windows below are unpartitioned but operate on the ≤RrfDepth-row
    // ranker outputs (post-limit), never on corpus-grain data
    val sparse = t21Bm25(s, d)
      .withColumn("rank_s", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .where(col("rank_s") <= RrfDepth)
      .select(col("doc_id"), col("rank_s"))
    val emb = Tables.embeddings(s, d)
    val dense = Similarity.cosineTopK(emb,
        emb.where(col("vec_id") === RrfQueryVec), "vec_id", "embedding",
        RrfDepth)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("rank_d"))
    sparse.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_ppt",
        coalesce(expr(s"$PrScale div ($RrfK + rank_s)"), lit(0L)) +
        coalesce(expr(s"$PrScale div ($RrfK + rank_d)"), lit(0L)))
      .orderBy(col("rrf_ppt").desc, col("doc_id"))
      .limit(RrfTopK)
      .select(col("doc_id"),
        coalesce(col("rank_s"), lit(0)).cast("long").as("rank_sparse"),
        coalesce(col("rank_d"), lit(0)).cast("long").as("rank_dense"),
        col("rrf_ppt"))
  }

  /** S17: candidate reranking — the third stage of the modern retrieval
    * stack (retrieve → fuse → rerank): t28's fused top-10 go through a
    * per-candidate "cross-encoder" scorer that is far too expensive for
    * the corpus but trivial for 10 candidates — the whole point of the
    * stage. The stub scorer (m4's deterministic-stand-in contract) is
    * query-term coverage: distinct query terms present, then total term
    * frequency, ties to doc_id — integer-exact. Scale shape: the
    * candidate list BROADCASTS into the corpus scan (a 10-row build side
    * — the only corpus-grain work is re-reading the candidates' rows;
    * with a doc_id-sorted/z-ordered store that scan prunes to their
    * files), scoring is map-side, and the rerank window is 10 rows. */
  def s17Rerank(s: SparkSession, d: String): DataFrame = {
    val cand = t28HybridRrf(s, d)
      .select(col("doc_id"), col("rrf_ppt"),
        row_number().over(Window.orderBy(col("rrf_ppt").desc,
          col("doc_id"))).cast("long").as("rank_before"))
    val docs = Tables.documents(s, d).select(col("doc_id"),
      transform(TextAnalysis.tokens(col("text")), t => lower(t)).as("toks"))
    val qTerms = array(Bm25Terms.map(lit): _*)
    docs.join(broadcast(cand), Seq("doc_id"))
      .withColumn("terms_hit",
        size(array_intersect(array_distinct(col("toks")), qTerms))
          .cast("long"))
      .withColumn("tf_sum",
        size(filter(col("toks"), t =>
          array_contains(qTerms, t))).cast("long"))
      // 10-row rerank window (candidate-bounded, never corpus-grain)
      .withColumn("rank_after", row_number().over(
        Window.orderBy(col("terms_hit").desc, col("tf_sum").desc,
          col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_before"), col("rank_after"),
        col("terms_hit"), col("tf_sum"))
      .orderBy(col("rank_after"))
  }

  /** S18: MMR diversified selection (Carbonell & Goldstein 1998, maximal
    * marginal relevance) — the retrieval stack's fourth stage after
    * retrieve → fuse → rerank: from t28's fused candidates, greedily pick
    * `MmrK` results maximizing λ·relevance − (1−λ)·max-similarity-to-
    * already-selected, so near-duplicate hits can't crowd the result
    * page. All integer arithmetic (RRF-style `RelScale div (RrfK+rank)`
    * relevance, candidate-pair cosines floored to ppm, λ in tenths) —
    * bit-exact on both engines. Greedy selection is inherently
    * SEQUENTIAL, so the k steps are unrolled statically into the plan as
    * k argmax-limit(1) sub-selections — no driver loop over row data, no
    * collect; the candidate frame (≤ RrfTopK rows with their vectors) is
    * persisted so the unrolled references replay a cached 10-row scan,
    * not the corpus-grain rankers. Scale shape: the cluster's work ends
    * at the fused candidate list (t28's shapes); everything past it is
    * candidate-bounded (≤10 rows, ≤90 pair sims) — the serving-layer
    * contract, same as s17's rerank window. Candidates without a stored
    * vector can't be diversity-scored and are excluded up front (both
    * engines; production backfills vectors at index time). */
  def s18MmrDiversify(s: SparkSession, d: String): DataFrame = {
    val cand = t28HybridRrf(s, d)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("rrf_ppt").desc,
          col("doc_id"))).cast("long").as("rank_fused"))
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id").as("doc_id"), col("embedding"))
    // localCheckpoint (eager) TRUNCATES lineage: the corpus-grain rankers
    // run exactly once, and everything downstream plans against a flat
    // ≤10-row scan. A persist() is NOT enough — it leaves the logical
    // tree in place, and the greedy selection references the candidate
    // frame repeatedly (measured 21-31 s steady at sf0.1 under a
    // persist-chained k-step unroll vs ~1 s checkpointed+fused; plan
    // analysis of the multiplied ranker subtree dominated even with warm
    // caches). Checkpointing a MODEL-SIZED frame (10 candidate rows) is
    // the serving-layer contract, not a data checkpoint.
    val ce = cand.join(emb, Seq("doc_id"))
      .withColumn("rel_ppm", expr(s"$RelScale div ($RrfK + rank_fused)"))
      .select(col("doc_id"), col("rel_ppm"), col("embedding"))
      .localCheckpoint()
    // ≤90-entry candidate-pair similarity list, integer ppm — lazy, from
    // the checkpointed frame
    val ps = ce.select(col("doc_id").as("a"), col("embedding").as("ea"))
      .crossJoin(ce.select(col("doc_id").as("b"), col("embedding").as("eb")))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        floor(Similarity.cosine(col("ea"), col("eb")) * 1e6 + 0.5)
          .cast("long").as("sim_ppm"))
    // the greedy selection is inherently sequential, so it runs as ONE
    // fused fold over a single row holding the candidate list and the
    // pair-sim list — k steps of argmax over ≤10 structs, pure map-side
    // expression work, no per-step Spark actions and no driver loop over
    // row data
    val candsArr = ce.agg(collect_list(
      struct(col("doc_id"), col("rel_ppm"))).as("cands"))
    val simsArr = ps.agg(collect_list(
      struct(col("a"), col("b"), col("sim_ppm"))).as("sims"))
    val lam = lit(MmrLambda10)
    val mu = lit(10L - MmrLambda10)
    def maxSimTo(c: Column, selIds: Column, sims: Column): Column =
      array_max(transform(
        filter(sims, p => p.getField("a") === c.getField("doc_id") &&
          array_contains(selIds, p.getField("b"))),
        p => p.getField("sim_ppm")))
    def pick(scored: Column, rank: Column): Column = {
      val m = array_max(transform(scored, s => s.getField("mmr_score")))
      val atM = filter(scored, s => s.getField("mmr_score") === m)
      val d = array_min(transform(atM, s => s.getField("doc_id")))
      val best = element_at(filter(atM, s => s.getField("doc_id") === d), 1)
      struct(best.getField("doc_id").as("doc_id"),
        rank.as("mmr_rank"),
        best.getField("rel_ppm").as("rel_ppm"),
        best.getField("max_sim_ppm").as("max_sim_ppm"),
        best.getField("mmr_score").as("mmr_score"))
    }
    val first = pick(transform(col("cands"), c => struct(
      c.getField("doc_id").as("doc_id"),
      c.getField("rel_ppm").as("rel_ppm"),
      lit(0L).as("max_sim_ppm"),
      (lam * c.getField("rel_ppm")).as("mmr_score"))), lit(1L))
    val selArr = aggregate(
      sequence(lit(2L), lit(MmrK.toLong)),
      when(size(col("cands")) > 0, array(first))
        .otherwise(array().cast(
          "array<struct<doc_id:bigint,mmr_rank:bigint,rel_ppm:bigint," +
            "max_sim_ppm:bigint,mmr_score:bigint>>")),
      (acc, i) => {
        val selIds = transform(acc, s => s.getField("doc_id"))
        val rem = filter(col("cands"),
          c => !array_contains(selIds, c.getField("doc_id")))
        val scored = transform(rem, c => {
          val ms = maxSimTo(c, selIds, col("sims"))
          struct(c.getField("doc_id").as("doc_id"),
            c.getField("rel_ppm").as("rel_ppm"),
            ms.as("max_sim_ppm"),
            (lam * c.getField("rel_ppm") - mu * ms).as("mmr_score"))
        })
        when(size(rem) > 0, concat(acc, array(pick(scored, i))))
          .otherwise(acc)
      })
    candsArr.crossJoin(simsArr)
      .select(explode(selArr).as("s"))
      .select(col("s.doc_id"), col("s.mmr_rank"), col("s.rel_ppm"),
        col("s.max_sim_ppm"), col("s.mmr_score"))
      .orderBy(col("mmr_rank"))
  }

  /** PIPE6: the raw-web curation spine as ONE plan — the composition every
    * from-crawl training-data pipeline runs, in the order it runs it:
    * markup→clean-text extraction (t26's jusText rules), the Gopher
    * quality gate on the EXTRACT (not the markup), URL-keyed dedup (t27's
    * canonical key — cheapest first: no content comparison), then exact
    * content dedup on the clean-text fingerprint, each stage electing
    * min-doc_id among the PREVIOUS stage's survivors (the conditional
    * window-min trick: `min(CASE WHEN survivor THEN doc_id END)` — one
    * window per stage, no self-joins). Output is the per-lang funnel
    * census: docs in → clean-gate → URL-unique → content-unique, plus the
    * surviving token mass. Scale shape: two hash-window shuffles on
    * high-cardinality uniform keys (canon URL, content fp) + one final
    * tiny groupBy — the extraction and gates are map-side. */
  /** The shared curation funnel frame (the engine-side twin of the
    * oracle's `curationCtes` — one implementation so pipe6 and pipe15 can
    * never drift): page synth → extraction → Gopher gate → URL-canonical
    * keep election → content-fingerprint keep election, ending in
    * (doc_id, lang, clean, clean_ok, words, canon_url, fp, url_ok,
    * final_ok). */
  /** The STATELESS prefix of [[curationGated]] — map-side curation of any
    * (doc_id, lang, source, text) frame: page synth → extraction → Gopher
    * gate, out as (doc_id, lang, clean, clean_ok, words). Factored out so
    * the streaming epoch spine (pipe16) curates its micro-batches with
    * EXACTLY the batch plan's chain (the curationGated one-implementation
    * rule extended to the streaming plane). */
  private[graft] def curationCleaned(docs: DataFrame): DataFrame = {
    val paged = docs
      .select(col("doc_id"), col("lang"), col("source"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("lang"),
        HtmlExtract.syntheticPage(col("doc_id"), col("lang"), col("source"),
          col("toks")).as("html"))
    val clean = paged
      .select(col("doc_id"), col("lang"),
        HtmlExtract.blocks(col("html")).as("blocks"))
      .select(col("doc_id"), col("lang"),
        HtmlExtract.cleanText(HtmlExtract.blockFeatures(col("blocks")))
          .as("clean"))
    val (rWords, rMeanLen, rSymbol, rAlpha, rStop) = gopherRules(col("clean"))
    clean
      .withColumn("clean_ok",
        rWords && rMeanLen && rSymbol && rAlpha && rStop)
      .withColumn("words",
        size(TextAnalysis.tokens(col("clean"))).cast("long"))
  }

  private[graft] def curationGated(s: SparkSession, d: String): DataFrame = {
    val staged = curationCleaned(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"), col("text")))
      .withColumn("canon_url",
        UrlNormalize.canonical(UrlNormalize.syntheticUrl(col("doc_id"))))
      .withColumn("fp", md5(col("clean")))
    val wUrl = Window.partitionBy(col("canon_url"))
    val wFp = Window.partitionBy(col("fp"))
    staged
      .withColumn("url_ok", col("clean_ok") && col("doc_id") ===
        min(when(col("clean_ok"), col("doc_id"))).over(wUrl))
      .withColumn("final_ok", col("url_ok") && col("doc_id") ===
        min(when(col("url_ok"), col("doc_id"))).over(wFp))
  }

  def pipe6WebCuration(s: SparkSession, d: String): DataFrame = {
    curationGated(s, d).groupBy(col("lang")).agg(
      count(lit(1)).as("n_raw"),
      sum(when(col("clean_ok"), 1L).otherwise(0L)).as("n_clean"),
      sum(when(col("url_ok"), 1L).otherwise(0L)).as("n_url_unique"),
      sum(when(col("final_ok"), 1L).otherwise(0L)).as("n_final"),
      sum(when(col("final_ok"),
        size(TextAnalysis.tokens(col("clean"))).cast("long"))
        .otherwise(0L)).as("final_words"))
      .orderBy(col("lang"))
  }

  /** PIPE7: WARC ingest — the step BEFORE pipe6 in a real from-crawl
    * pipeline: the corpus arrives as ISO 28500 WARC shards (record =
    * `WARC/1.0\r\n` + headers + `\r\n\r\n` + payload), not as a parquet
    * table. The splitter is Spark's own text source with a multi-byte
    * `lineSep` of the record magic — each task scans its file slice and
    * emits whole records, no custom InputFormat, no driver-side parsing;
    * header fields and the payload split are pure map-side column algebra
    * (one regexp per header + one bounded `split`). Non-response records
    * (here: interleaved `request` records) are census-counted and
    * filtered, never silently dropped. Response payloads then run the
    * t26 markup→clean-text extraction, and the output census carries the
    * same 60-bit content checksum as k6 — any byte the record
    * writer/splitter mangles breaks the oracle hash. Scale notes: shards
    * are written uncompressed so the text scan stays splittable (real
    * CommonCrawl WARCs are per-record gzip members — there, parallelism
    * = shard count, same plan); records never concatenate into one task
    * row because the delimiter bounds them. */
  /** The staged synthetic WARC corpus shared by pipe7 and pipe9: response
    * records for every document (payload = the t26 synthetic page) plus
    * interleaved request records, written once per (sf dir) per JVM. */
  private def warcStaged(s: SparkSession, d: String): String =
    stagedDir("pipe7_warc", d) { dir =>
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          TextAnalysis.tokens(col("text")).as("toks"))
      val page = HtmlExtract.syntheticPage(col("doc_id"), col("lang"),
        col("source"), col("toks"))
      val uri = UrlNormalize.syntheticUrl(col("doc_id"))
      val response = concat(
        lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "), uri,
        lit("\r\nContent-Length: "), length(page).cast("string"),
        lit("\r\n\r\n"), page)
      val request = concat(
        lit("WARC/1.0\r\nWARC-Type: request\r\nWARC-Target-URI: "), uri,
        lit("\r\nContent-Length: 5\r\n\r\nGET /"))
      docs.select(response.as("value"))
        .unionAll(
          docs.where(col("doc_id") % 7 === 0).select(request.as("value")))
        .write.mode("overwrite").text(dir)
    }

  def pipe7WarcIngest(s: SparkSession, d: String): DataFrame = {
    val root = warcStaged(s, d)
    val isResp = col("wtype") === "response"
    s.read.option("lineSep", "WARC/1.0\r\n").text(root)
      .where(length(col("value")) > 0)
      .select(
        regexp_extract(col("value"), "WARC-Type: ([a-z]+)", 1).as("wtype"),
        // strip exactly ONE trailing \n — the text writer's record
        // terminator — so a payload that legitimately ends in newlines
        // survives byte-exact (a greedy \n+ strip would mangle it and the
        // oracle hash is supposed to catch any such mangling)
        regexp_replace(split(col("value"), "\r\n\r\n", 2).getItem(1),
          "\n$", "").as("payload"))
      .withColumn("lang", when(isResp,
        regexp_extract(col("payload"), "/archive\">([a-z]+) archive", 1))
        .otherwise(lit("-")))
      .withColumn("clean", when(isResp, HtmlExtract.cleanText(
        HtmlExtract.blockFeatures(HtmlExtract.blocks(col("payload")))))
        .otherwise(lit("")))
      .groupBy(col("wtype"), col("lang"))
      .agg(count(lit(1)).as("n_records"),
        sum(when(isResp, size(TextAnalysis.tokens(col("clean"))).cast("long"))
          .otherwise(0L)).as("clean_words"),
        sum(when(isResp,
          conv(substring(md5(col("clean")), 1, 15), 16, 10).cast("long")
            % 1000000007L).otherwise(0L)).as("text_hash"))
      .orderBy(col("wtype"), col("lang"))
  }

  /** T29: encoding repair — the ftfy-style pass every from-web pipeline
    * runs before any text op: strip C0 control characters (minus \t\n\r)
    * and fix UTF-8-read-as-Latin-1 mojibake (the `Ã©`→`é` class; one
    * representative mapping here — production carries the full ftfy
    * table, same expression shape). Corruption is synthesized
    * deterministically (doc_id%4 gets BEL…VT wrappers, else doc_id%6 gets
    * a mojibake suffix) so the oracle repeats it verbatim; repair is two
    * fused regexp/replace projections — pure map-side, census-only
    * shuffle. The census carries chars_removed and the k6 content
    * checksum over the REPAIRED text, so an over- or under-eager repair
    * breaks the hash, and every repair class is count-visible. */
  def t29FixEncoding(s: SparkSession, d: String): DataFrame = {
    val isCtl = col("doc_id") % 4 === 0
    val isMoji = col("doc_id") % 6 === 0
    Tables.documents(s, d).select(col("doc_id"), col("text"))
      .withColumn("raw",
        when(isCtl, concat(lit("\u0007"), col("text"), lit("\u000B")))
          .when(isMoji, concat(col("text"), lit(" CafÃ©")))
          .otherwise(col("text")))
      .withColumn("status",
        when(isCtl, "control_stripped")
          .when(isMoji, "mojibake_fixed")
          .otherwise("clean"))
      .withColumn("fixed",
        regexp_replace(
          regexp_replace(col("raw"),
            "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", ""),
          "Ã©", "é"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        sum((length(col("raw")) - length(col("fixed"))).cast("long"))
          .as("chars_removed"),
        sum(conv(substring(md5(col("fixed")), 1, 15), 16, 10).cast("long")
          % 1000000007L).as("text_hash"))
      .orderBy(col("status"))
  }

  /** PIPE8: sequence packing — the LLM batch-prep step after pipe4's
    * budget packing: concatenate the token stream and cut it into
    * fixed-length context windows (GPT-style concat-and-chunk), so no
    * window is padded except the last. Packing is PER SHARD: docs hash to
    * `PackShards` shards and get a deterministic pseudo-random order
    * inside the shard from a portable md5-derived key (the training-order
    * shuffle, retry-stable — t23's no-rand rule), so the only shuffle is
    * one hash partition + per-shard sort; there is NO global cumsum — at
    * 100 TB each shard packs independently and in parallel, which is
    * exactly how real pipelines shard their tokenized corpora. Per-doc
    * window span comes from the exclusive running token count: start_win =
    * cum_before div ctx, end_win = (cum_before + toks - 1) div ctx; a doc
    * with end_win > start_win crosses a window boundary (attention-mask
    * relevant — censused per shard). Output: per-shard docs, tokens,
    * windows, boundary-crossing docs, and the padding the last window
    * carries. */
  def pipe8SeqPack(s: SparkSession, d: String): DataFrame = {
    val ord = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val base = Tables.documents(s, d)
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("toks"))
      .withColumn("ord", ord)
      .withColumn("shard", pmod(col("ord"), lit(PackShards)))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    base
      .withColumn("cum_before", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("start_win", expr(s"cum_before div $PackCtx"))
      .withColumn("end_win", expr(s"(cum_before + toks - 1) div $PackCtx"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_toks"),
        (expr(s"(sum(toks) + ${PackCtx - 1}) div $PackCtx"))
          .as("n_windows"),
        sum(when(col("end_win") > col("start_win"), 1L).otherwise(0L))
          .as("n_spanning"),
        expr(s"(sum(toks) + ${PackCtx - 1}) div $PackCtx * $PackCtx" +
          " - sum(toks)").as("padding"))
      .orderBy(col("shard"))
  }

  /** O9: small-file COMPACTION PLANNING — the metadata-only half of table
    * maintenance (k4 executes; o9 plans): list the real files of a
    * fragmented lang-partitioned store, one row per FILE (via the file
    * source's `_metadata.file_path` — never a filename string crossing
    * the oracle boundary: each file's stable identity is its min doc_id),
    * and assign files to target-size output bins by first-fit-decreasing
    * via a running-sum window per partition dir (files ordered size-desc;
    * bin = exclusive running count div target). Row counts stand in for
    * byte sizes and are gathered here by a scan so the oracle can check
    * them — production reads them from parquet footers or the table
    * manifest and the downstream plan is identical, pure metadata grain.
    * Scale shape: the plan output is |files| rows (metadata, not data),
    * the only shuffles are the per-dir file census and the per-dir
    * running-sum window — at 100 TB a million-file table plans in
    * seconds, and each (dir, bin) row becomes one compaction task (k4's
    * rename-aside swap executes them). Census per (lang, bin): files in,
    * rows, and the bin's first file key. */
  /** O11: HOT-KEY SKEW census — the detector in front of j9's salted-join
    * repair: before shuffling a 100 TB fact table on a key, measure the
    * key-count distribution and decide whether AQE's skew split suffices
    * or the build side must replicate. One count census per key, then a
    * count-grain histogram walk: exact percentiles over integer per-key
    * counts (smallest count whose running key total reaches
    * ceil(p·n/100) — the a25 grid trick, so both engines walk identical
    * integers), max, integer-micro mean, and skew_ppm = max·1e6 div
    * mean_micro·1e6... expressed as max·1e6 div (sum div n) — all
    * non-negative integer division. Output is one (stat, value) row per
    * statistic — model-sized; the only corpus-grain work is the single
    * groupBy(key) census every skew decision needs anyway. */
  def o11HotkeyCensus(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.events(s, d).groupBy(col("user_id"))
      .agg(count(lit(1)).as("c"))
    val hist = counts.groupBy(col("c")).agg(count(lit(1)).as("nk"))
    val w = Window.orderBy(col("c"))
    // histogram walk over DISTINCT count values — bounded by the count
    // range, not key cardinality, so the unpartitioned window is
    // model-sized (the a25 percentile discipline)
    val walked = hist.withColumn("cum", sum(col("nk")).over(w))
      .crossJoin(broadcast(counts.agg(
        count(lit(1)).as("n"), sum(col("c")).as("tot"),
        max(col("c")).as("mx"))))
    def pct(p: Int): Column =
      min(when(col("cum") * 100 >= lit(p.toLong) * col("n"), col("c")))
    walked.agg(
        pct(50).as("p50"), pct(90).as("p90"), pct(99).as("p99"),
        first(col("mx")).as("mx"), first(col("n")).as("n"),
        first(col("tot")).as("tot"))
      .select(explode(map(
        lit("p50_count"), col("p50"),
        lit("p90_count"), col("p90"),
        lit("p99_count"), col("p99"),
        lit("max_count"), col("mx"),
        lit("n_keys"), col("n"),
        lit("mean_count_micro"), expr("tot * 1000000 div n"),
        lit("skew_ppm"), expr("mx * 1000000 div greatest(tot div n, 1)")))
        .as(Seq("stat", "value")))
      .orderBy(col("stat"))
  }

  def o9CompactionPlan(s: SparkSession, d: String): DataFrame = {
    val root = stagedDir("o9_frag", d) { dir =>
      val docs = Tables.documents(s, d)
      // 8 appends × coalesce(1) → exactly one file per (lang, fragment):
      // file contents are a pure function of the corpus, so min(doc_id)
      // identifies each physical file deterministically on both engines
      for (i <- 0 until CompactFrag)
        docs.where(col("doc_id") % CompactFrag === i)
          .coalesce(1)
          .write.mode("append").partitionBy("lang").parquet(dir)
    }
    val files = s.read.parquet(root)
      .select(col("lang"), col("doc_id"),
        col("_metadata.file_path").as("file"))
      .groupBy(col("lang"), col("file"))
      .agg(min(col("doc_id")).as("file_key"),
        count(lit(1)).as("n_rows"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_rows").desc, col("file_key"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col("n_rows")).over(w), lit(0L)))
      .withColumn("bin", expr(s"cum_before div $CompactTargetRows"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("n_rows")).as("bin_rows"),
        min(col("file_key")).as("first_key"))
      .orderBy(col("lang"), col("bin"))
  }

  /** K8: RETENTION VACUUM PLANNING — the lifecycle half o9's compaction
    * doesn't cover: against a real day-partitioned store (multiple files
    * per day dir, the o9 staging discipline), classify every partition
    * under the retention policy — recent days KEEP, older days ARCHIVE
    * on the weekly grid, the rest DELETE — and report per day the plan's
    * blast radius (files, rows, the partition's stable first-key
    * identity). "Now" is the fixed corpus end, so the plan is
    * deterministic and oracle-checkable; production swaps the literal
    * for the wall clock and each (day, delete) row becomes one
    * partition-dir removal, each (day, archive) row one k4 compaction
    * task. Scale shape: pure metadata grain — the only shuffle is the
    * per-(day, file) census; a million-file table plans in seconds and
    * nothing row-sized leaves the executors. Why it matters at 100 TB:
    * retention is the ONLY thing that keeps an append-only events store
    * bounded, and a mis-planned vacuum is unrecoverable — hence the plan
    * is a first-class, value-checked query rather than a script. */
  def k8VacuumPlan(s: SparkSession, d: String): DataFrame = {
    val root = stagedDir("k8_store", d) { dir =>
      val ev = Tables.events(s, d)
        .withColumn("day", expr("ts_ms div 86400000"))
        .select(col("day"), col("event_id"))
      for (i <- 0 until CompactFrag)
        ev.where(col("event_id") % CompactFrag === i)
          .coalesce(1).write.mode("append").partitionBy("day").parquet(dir)
    }
    val nowDay = RangeEndMs / 86400000L
    s.read.parquet(root)
      .select(col("day").cast("long").as("day"), col("event_id"),
        col("_metadata.file_path").as("f"))
      .groupBy(col("day"), col("f"))
      .agg(count(lit(1)).as("rows_f"), min(col("event_id")).as("key_f"))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_files"), sum(col("rows_f")).as("n_rows"),
        min(col("key_f")).as("first_key"))
      .select(col("day"),
        when(lit(nowDay) - col("day") <= RetentionKeepDays, "keep")
          .when(col("day") % 7 === 0, "archive")
          .otherwise("delete").as("decision"),
        col("n_files"), col("n_rows"), col("first_key"))
      .orderBy(col("day"))
  }

  /** PIPE9: the complete from-crawl spine AS ONE PLAN — WARC shards →
    * record split + header parse (pipe7) → markup extraction + Gopher
    * gate + URL/content dedup elections (pipe6's funnel, but with the
    * URL taken from the crawl's own `WARC-Target-URI` header and the doc
    * identity parsed from the page itself) → pipe8's sequence-packing
    * census over the SURVIVING documents. Proves the stages fuse without
    * a materialization seam: one text scan of the crawl feeds the whole
    * pipeline, and Catalyst keeps the record parse + extraction + gates
    * in a single map-side projection chain under the first window.
    * Shuffle budget: 3 (the canon-URL election window, the content-fp
    * election window, the per-shard packing window — whose `shard` key
    * also co-partitions the final census aggregate). Scale shape: every
    * window key is hash-uniform (canonical URL, md5 fingerprint, md5-
    * derived shard), the crawl scan is splittable (uncompressed shards;
    * per-record-gzip CommonCrawl makes parallelism = shard count), and
    * nothing corpus-wide reaches the driver. The oracle replays the
    * pipe6 curation chain + pipe8 packing over the survivor set from the
    * parquet table — the WARC round-trip (record split, header parse,
    * payload byte-exactness, in-band identity recovery) is the engine's
    * burden, pinned by the packing census's dependence on every
    * survivor's exact clean-token count. */
  def pipe9CrawlShards(s: SparkSession, d: String): DataFrame = {
    val root = warcStaged(s, d)
    val recs = s.read.option("lineSep", "WARC/1.0\r\n").text(root)
      .where(length(col("value")) > 0)
      .select(
        regexp_extract(col("value"), "WARC-Type: ([a-z]+)", 1).as("wtype"),
        regexp_extract(col("value"), "WARC-Target-URI: ([^\r\n]+)", 1)
          .as("uri"),
        regexp_replace(split(col("value"), "\r\n\r\n", 2).getItem(1),
          "\n$", "").as("payload"))
      .where(col("wtype") === "response")
    // identity comes from the crawl itself (the page's <title>), not from
    // a pre-existing table — the from-raw-web contract
    val parsed = recs.select(
      regexp_extract(col("payload"), "<title>Doc (\\d+)</title>", 1)
        .cast("long").as("doc_id"),
      col("uri"),
      HtmlExtract.cleanText(HtmlExtract.blockFeatures(
        HtmlExtract.blocks(col("payload")))).as("clean"))
    val (rWords, rMeanLen, rSymbol, rAlpha, rStop) = gopherRules(col("clean"))
    val staged = parsed
      .withColumn("clean_ok",
        rWords && rMeanLen && rSymbol && rAlpha && rStop)
      .withColumn("canon_url", UrlNormalize.canonical(col("uri")))
      .withColumn("fp", md5(col("clean")))
    val wUrl = Window.partitionBy(col("canon_url"))
    val wFp = Window.partitionBy(col("fp"))
    val survivors = staged
      .withColumn("url_ok", col("clean_ok") && col("doc_id") ===
        min(when(col("clean_ok"), col("doc_id"))).over(wUrl))
      .withColumn("final_ok", col("url_ok") && col("doc_id") ===
        min(when(col("url_ok"), col("doc_id"))).over(wFp))
      .where(col("final_ok"))
      .select(col("doc_id"),
        size(TextAnalysis.tokens(col("clean"))).cast("long").as("toks"))
    val ord = conv(substring(md5(col("doc_id").cast("string")), 1, 15),
      16, 10).cast("long")
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("ord"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    survivors
      .withColumn("ord", ord)
      .withColumn("shard", pmod(col("ord"), lit(PackShards)))
      .withColumn("cum_before", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("start_win", expr(s"cum_before div $PackCtx"))
      .withColumn("end_win", expr(s"(cum_before + toks - 1) div $PackCtx"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("total_toks"),
        (expr(s"(sum(toks) + ${PackCtx - 1}) div $PackCtx"))
          .as("n_windows"),
        sum(when(col("end_win") > col("start_win"), 1L).otherwise(0L))
          .as("n_spanning"),
        expr(s"(sum(toks) + ${PackCtx - 1}) div $PackCtx * $PackCtx" +
          " - sum(toks)").as("padding"))
      .orderBy(col("shard"))
  }

  /** PIPE10: TRAINING-MIX ASSEMBLY under a token budget — the final
    * dataset-construction step (The Pile's mixture weights, Gao et al.
    * 2020; LLaMA-style data mixes): the global budget is MixFracPpm of
    * the corpus's total token count, split across languages by
    * MixWeightsPpm; within each language docs are taken in portable md5
    * order (a deterministic, retry-stable shuffle — t23's idiom) until
    * the running pre-doc token total crosses the language's target, the
    * crossing doc included, so each target is met exactly when supply
    * allows (under-supplied languages keep everything). Census per
    * language: target, kept docs/tokens, and the kept-id checksum
    * pinning the exact selection.
    *
    * Scale shape — the naive form (one token-cumsum window per language)
    * is a reducer-per-language bottleneck: 5 languages means 5 reducers
    * each sorting a fifth of the corpus. This is the two-phase form: the
    * 60-bit order-key space is range-bucketed by its TOP bits (so bucket
    * order ≡ key order), per-(lang, bucket) token sums shuffle on a
    * uniform key, the model-sized bucket frame (langs × 256 rows) takes
    * the cheap cumsum and classifies every bucket kept / boundary /
    * dropped, and the exact within-bucket sort runs ONLY on boundary
    * buckets — one bucket per language, 1/2^(60-MixBucketShift) of the
    * corpus, tunable by the shift at any scale. Dropped buckets are
    * filtered BEFORE the window, so past-budget data never sorts. */
  /** PIPE12: domain-level quality-gate induction (the RefinedWeb/C4
    * blocklist step, induced from the data instead of hand-curated): every
    * doc's host (t27's URL canonicalization rules) and integer quality
    * (t2's score in e4 units) roll up to a per-host mean; hosts whose mean
    * sits below the corpus mean are gated, and the verdict joins back to
    * every doc. Quality propagates across the DOMAIN — a good doc on a
    * junk host is dropped, which is the whole point of domain-level
    * filtering. Scale shape: one host-grain aggregate (partial agg maps
    * the corpus down to one row per host), one scalar mean broadcast, and
    * a host-keyed join-back whose build side is host-grain (a hot host
    * skews only the stream side — AQE splits it). Integer e4/floor-div
    * arithmetic end to end; only the join-back touches corpus-grain rows
    * twice, riding one persisted skinny frame. */
  def pipe12DomainGate(s: SparkSession, d: String): DataFrame = {
    val docs = Spread(Tables.documents(s, d))
      .select(col("doc_id"),
        UrlNormalize.host(UrlNormalize.syntheticUrl(col("doc_id")))
          .as("host"),
        round(TextAnalysis.qualityScore(col("text"), Stopwords) * 10000.0, 0)
          .cast("long").as("q_e4"))
      .persist() // feeds the host rollup, the corpus mean, and the join-back
    val hosts = docs.groupBy(col("host"))
      .agg(count(lit(1)).as("host_n"), sum(col("q_e4")).as("sq"))
      .select(col("host"), col("host_n"),
        expr("sq div host_n").as("host_avg_e4"))
    val glob = docs.agg(expr("sum(q_e4) div count(1)").as("g_avg_e4"))
    val gated = hosts.crossJoin(broadcast(glob))
      .select(col("host"), col("host_n"), col("host_avg_e4"),
        (col("host_avg_e4") >= col("g_avg_e4")).cast("long").as("keep"))
    docs.join(gated, Seq("host"))
      .select(col("doc_id"), col("host"), col("q_e4"), col("host_n"),
        col("host_avg_e4"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc Gopher gate verdicts (t15's integer rules rolled to one
    * bit) — the staged-verdict grain pipe13 carries across snapshots. */
  private def gateVerdicts(df: DataFrame): DataFrame = {
    val (rW, rM, rS, rA, rSt) = gopherRules(col("text"))
    df.select(col("doc_id"),
      when(rW && rM && rS && rA && rSt, 1L).otherwise(0L).as("passes"))
  }

  /** PIPE13: the NIGHTLY-REFRESH spine — the whole curation pipeline run
    * INCREMENTALLY across a corpus snapshot move (k7's deterministic
    * v1→v2 pair), in one plan: (1) one hash-partitioned full-outer diff
    * classifies every v2 doc carried vs delta; (2) the Gopher gate (t15)
    * and the benchmark decontamination (d7, fixed eval set) run their
    * per-doc-pure compute on ONLY the delta, carrying yesterday's staged
    * verdict tables forward for carried docs by metadata-grain semi-join;
    * (3) near-dup admission control runs the delta against yesterday's
    * persisted MinHash index (d15's serve path — index touched by scan
    * only, self-id matches excluded: a changed doc must not be "dup of"
    * its own previous version); (4) one per-lang census of the admitted
    * set. The DuckDB oracle recomputes the ENTIRE steady state full-scan
    * from v2 — hash equality is the incremental ≡ full proof for the
    * composed pipeline, not just each stage (d19 proved the decontam
    * stage; this proves the spine). At 100 TB tonight's bill is
    * O(delta) shingle/gate/minhash work + one corpus-grain diff join +
    * metadata-grain semi-joins — the corpus is never re-tokenized. */
  def pipe13NightlyRefresh(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = snapshotPair(s, d)
    val bench = v1.where(col("doc_id") % 29 === 0)
    val corp1 = v1.where(col("doc_id") % 29 =!= 0)
    val corp2 = v2.where(col("doc_id") % 29 =!= 0)
    // yesterday's artifacts over corpus-v1: gate verdicts, contamination
    // table, minhash index — pure functions of v1, staged once per sf dir
    // decon at the 8-gram GATING grain (Pipe15DeconK), NOT d7's 3-gram
    // CENSUS grain: the round-14 sanity census caught this query admitting
    // 0/4717 docs at sf0.1 — the r13 pipe15 incident's sibling (3-gram
    // overlap saturates on this closed-vocab corpus with SF, so the
    // "contaminated" class swallowed the whole corpus while the oracle,
    // computing the same saturation, stayed green)
    val root = stagedDir("pipe13", d) { dir =>
      gateVerdicts(corp1).write.mode("overwrite").parquet(s"$dir/gate")
      Decontaminate.contaminatedDocs(corp1, bench, "doc_id", "text",
          k = Pipe15DeconK)
        .select(col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/contam")
      Dedup.buildMinhashIndex(corp1, "doc_id", "text", s"$dir/index",
        MinhashK, MinhashBands)
    }
    val diff = corp1.select(col("doc_id"), col("text").as("t1"))
      .join(corp2.select(col("doc_id"), col("text").as("t2")),
        Seq("doc_id"), "full_outer")
    val carriedIds = diff
      .where(col("t1").isNotNull && col("t2").isNotNull &&
        col("t1") === col("t2"))
      .select(col("doc_id"))
    val delta = diff
      .where(col("t2").isNotNull &&
        (col("t1").isNull || col("t1") =!= col("t2")))
      .select(col("doc_id"), col("t2").as("text"))
    val gate = s.read.parquet(s"$root/gate")
      .join(carriedIds, Seq("doc_id"), "left_semi")
      .unionByName(gateVerdicts(delta))
    val contamIds = s.read.parquet(s"$root/contam")
      .join(carriedIds, Seq("doc_id"), "left_semi")
      .unionByName(Decontaminate
        .contaminatedDocs(delta, bench, "doc_id", "text", k = Pipe15DeconK)
        .select(col("doc_id")))
    val dupIds = Dedup.dedupAgainstIndex(delta, "doc_id", "text",
        s"$root/index", MinhashK, MinhashBands, MinhashThreshold)
      .where(col("delta_id") =!= col("corpus_id"))
      .select(col("delta_id").as("doc_id")).distinct()
    val admitted = col("passes") === 1L && col("contam") === 0L &&
      col("dup") === 0L
    corp2.select(col("doc_id"), col("lang"))
      .join(carriedIds.withColumn("carried", lit(1L)), Seq("doc_id"), "left")
      .join(gate, Seq("doc_id"), "left")
      .join(contamIds.withColumn("contam", lit(1L)), Seq("doc_id"), "left")
      .join(dupIds.withColumn("dup", lit(1L)), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("carried"), lit(0L)).as("carried"),
        coalesce(col("passes"), lit(0L)).as("passes"),
        coalesce(col("contam"), lit(0L)).as("contam"),
        coalesce(col("dup"), lit(0L)).as("dup"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("carried")).as("n_carried"),
        sum(lit(1L) - col("carried")).as("n_delta"),
        sum(lit(1L) - col("passes")).as("n_gate_fail"),
        sum(col("contam")).as("n_contaminated"),
        sum(col("dup")).as("n_dup"),
        sum(when(admitted, 1L).otherwise(0L)).as("n_admitted"),
        sum(when(admitted, col("doc_id")).otherwise(0L))
          .as("sum_admitted_id"))
      .orderBy(col("lang"))
  }

  def pipe10MixBudget(s: SparkSession, d: String): DataFrame = {
    // skinny selection frame (id, lang, toks, order key, bucket): this is
    // the staged artifact at 100 TB too — tokenize once, select twice
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("toks"))
    mixSelectOn(s, base)
      .groupBy(col("lang"))
      .agg(max(col("target")).as("target_toks"),
        count(lit(1)).as("kept_docs"),
        sum(col("toks")).as("kept_toks"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  /** pipe10's two-phase budgeted selection over any (doc_id, lang, toks)
    * frame — returns the KEPT rows plus their lang `target`. See
    * [[pipe10MixBudget]] for the scale argument; [[pipe11SelectPack]]
    * runs the same selection over its DSIR+dedup survivor set. */
  private[graft] def mixSelectOn(s: SparkSession, docsToks: DataFrame): DataFrame = {
    import s.implicits._
    val h = conv(substring(md5(concat(lit("mix:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val base = docsToks
      .where(col("toks") > 0)
      .withColumn("h", h)
      .withColumn("bkt", expr(s"h div ${1L << MixBucketShift}"))
      .persist()
    val weights = MixWeightsPpm.toDF("lang", "w_ppm")
    // 1-row scalar total × |langs| weights — model-sized target frame
    val targets = weights.crossJoin(base.agg(sum(col("toks")).as("total")))
      .select(col("lang"),
        expr(s"(((total * $MixFracPpm) div 1000000) * w_ppm) div 1000000")
          .as("target"))
    val bw = Window.partitionBy(col("lang")).orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // toks > 0 everywhere makes the bucket cumsum strictly increasing, so
    // "all" (ends at or under target), "drop" (starts at or past it) and
    // the single per-lang boundary bucket partition the space exactly
    // localCheckpoint (s18's idiom): the bucket frame is model-sized but
    // its SUBTREE is a corpus-grain aggregate — both union branches below
    // reference it, and an un-truncated lineage would re-run the census
    // once per branch (plan-duplication, the d13/s18 lesson)
    val classed = base.groupBy(col("lang"), col("bkt"))
      .agg(sum(col("toks")).as("btoks"))
      .join(targets, "lang")
      .withColumn("cumb", coalesce(sum(col("btoks")).over(bw), lit(0L)))
      .select(col("lang"), col("bkt"), col("target"), col("cumb"),
        when(col("cumb") + col("btoks") <= col("target"), lit("all"))
          .when(col("cumb") >= col("target"), lit("drop"))
          .otherwise(lit("edge")).as("cls"))
      .where(col("cls") =!= "drop")
      .localCheckpoint()
    // model-sized bucket frame broadcasts back under AQE; only the edge
    // buckets reach the exact window
    val tagged = base.join(classed, Seq("lang", "bkt"))
    val ew = Window.partitionBy(col("lang"), col("bkt"))
      .orderBy(col("h"), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val keptEdge = tagged.where(col("cls") === "edge")
      .withColumn("wcum", coalesce(sum(col("toks")).over(ew), lit(0L)))
      .where(col("cumb") + col("wcum") < col("target"))
      .drop("wcum")
    tagged.where(col("cls") === "all").unionByName(keptEdge)
      .select(col("doc_id"), col("lang"), col("toks"), col("target"))
  }

  /** PIPE11: the dataset SELECTION spine as one plan — pipe9's web-side
    * counterpart for the curation side: DSIR importance gate (t30's
    * induced filter, score > 0) → exact-duplicate election among the
    * survivors (first doc per md5 fingerprint) → pipe10's two-phase
    * token-budget mix selection over what remains → packing arithmetic
    * (pipe8's integer algebra) on the final per-lang mix. Census per mix
    * language: raw docs/tokens, DSIR survivors, unique survivors, mix
    * target/kept/tokens, context windows + padding. Proves the selection
    * stages COMPOSE without materialization seams: stage flags ride one
    * persisted doc-grain frame (pipe1's flag idiom — the dedup election
    * ranks inside (fp, gate) partitions so it needs no survivor-only
    * re-shuffle), and every stage census reads that one frame. Shuffle
    * keys: the DSIR token grains (vocab/doc), the doc-key meta join, the
    * md5 fingerprint window, the mix bucket sums — all hash-uniform; the
    * packing census needs only per-lang sums (windows = ceil(toks/ctx)),
    * never a per-doc cumsum, so no reducer-per-lang window exists
    * anywhere in the spine. */
  def pipe11SelectPack(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = dsirScores(s, d)
    val meta = Tables.documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
    val ew = Window.partitionBy(col("fp"), col("pass_dsir"))
      .orderBy(col("doc_id"))
    val flagged = scored.join(meta, Seq("doc_id"))
      .withColumn("pass_dsir", col("score_micro") > 0)
      .withColumn("rn", row_number().over(ew))
      .withColumn("uniq", col("pass_dsir") && col("rn") === 1)
      .persist() // one doc-grain frame carries every stage flag
    val kept = mixSelectOn(s, flagged.where(col("uniq"))
      .select(col("doc_id"), col("lang"), col("n_toks").as("toks")))
    val c0 = flagged.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_raw"), sum(col("n_toks")).as("raw_toks"),
        sum(when(col("pass_dsir"), 1L).otherwise(0L)).as("n_dsir"),
        sum(when(col("uniq"), 1L).otherwise(0L)).as("n_unique"))
    val c3 = kept.groupBy(col("lang"))
      .agg(max(col("target")).as("target_toks"),
        count(lit(1)).as("n_mix"),
        sum(col("toks")).as("mix_toks"))
    c0.join(MixWeightsPpm.map(_._1).toDF("lang"), Seq("lang"))
      .join(c3, Seq("lang"), "left")
      .select(col("lang"), col("n_raw"), col("raw_toks"), col("n_dsir"),
        col("n_unique"),
        coalesce(col("target_toks"), lit(0L)).as("target_toks"),
        coalesce(col("n_mix"), lit(0L)).as("n_mix"),
        coalesce(col("mix_toks"), lit(0L)).as("mix_toks"),
        expr(s"(coalesce(mix_toks, 0) + ${PackCtx - 1}) div $PackCtx")
          .as("n_windows"),
        expr(s"(coalesce(mix_toks, 0) + ${PackCtx - 1}) div $PackCtx" +
          s" * $PackCtx - coalesce(mix_toks, 0)").as("padding"))
      .orderBy(col("lang"))
  }

  /** PIPE15: the PRETRAINING-EPOCH SPINE — the full corpus-to-shards
    * composition a training-data team ships, end to end in one plan:
    * curation ([[curationGated]] — pipe6's page-synth → extraction →
    * Gopher gate → URL-dedup → content-dedup elections) → benchmark
    * DECONTAMINATION over the survivors' CLEAN text (d7's overlap rule at
    * the mod-29 split via [[Decontaminate.contaminatedDocs]], at the
    * 8-gram GATING grain `Pipe15DeconK` — see the constant's rationale) → domain MIX to the global token
    * budget ([[mixSelectOn]] — pipe10's two-phase bucketed selection) →
    * sequence-PACKING arithmetic (pipe8's integer window algebra, per
    * lang) → the m6-style SHARD MANIFEST (portable-hash shard assignment
    * + order-independent content digest) over the final kept set.
    *
    * Output is a long-format census — (section, k, cnt, toks, aux):
    * `funnel` rows carry per-(lang, stage) doc counts and clean-token
    * sums for every stage 0_raw → 5_mix (aux = the lang's token target on
    * the 5_mix rows); `pack` rows carry per-lang context windows + padding;
    * `shard` rows carry per-shard docs, tokens, and the digest. The DuckDB
    * twin recomputes the whole funnel from scratch (the shared
    * curationCtes text + d7's shingle SQL + pipe10's single-window
    * selection + the manifest algebra), so one doc mis-gated, mis-deduped,
    * wrongly decontaminated, mis-selected, or mis-sharded ANYWHERE in the
    * spine hash-fails.
    *
    * Scale shape: the curated doc-grain frame is persisted ONCE and every
    * stage flag rides it (pipe1's flag idiom); decontamination meets the
    * benchmark set in one uniform shingle-hash equi-join (benchmark side
    * broadcasts under AQE); the mix selection shuffles only (lang, bucket)
    * sums plus the per-lang boundary bucket; packing needs per-lang sums
    * only (no per-doc cumsum anywhere); the manifest digest aggregates
    * map-side (order-independent integer sum). No stage re-reads the raw
    * corpus — at 100 TB the spine is one pass over the documents plus
    * model/census-grain shuffles, which is exactly the production shape. */
  def pipe15EpochSpine(s: SparkSession, d: String): DataFrame =
    pipe15EpochSpineAt(s, d, Pipe15DeconK)

  /** [[pipe15EpochSpine]] with the decontamination shingle grain exposed —
    * the production query always runs at [[QuerySpec.Pipe15DeconK]]; the
    * parameter exists so [[Sanity]]'s degeneracy detector can be
    * REGRESSION-TESTED against the known-degenerate 3-gram variant (the
    * r13 incident: 3-gram overlap saturates on this closed-vocab corpus
    * at sf0.1, empties the funnel's late stages, and the DuckDB oracle
    * still hash-matches — both engines agree on the empty funnel). */
  private[graft] def pipe15EpochSpineAt(s: SparkSession, d: String,
      deconK: Int): DataFrame = {
    // UNPERSISTED by design (the d20 adjudication's discipline): the
    // curation chain is bounded parallel CPU (~0.2 s warm at sf0.1) and
    // its three consumers (decon's two sides + the slim flag frame)
    // re-derive it cheaper than ONE columnar cache fill of the clean-text
    // column costs (measured 1.6 s warm — big strings defeat the cache's
    // codegen fusion); at 100 TB the same choice holds per the d20
    // precedent, or the curated frame becomes a staged parquet artifact
    // (pipe13's move), never an executor-memory cache of corpus text
    val gated = curationGated(s, d) // carries `words` (clean token count)
    // DECONTAMINATE: benchmark = the mod-29 class's CLEAN text (gate-
    // independent — an eval set exists regardless of curation verdicts);
    // corpus = the curation survivors outside it. 8-gram overlap
    // (Pipe15DeconK — the Llama/GPT span-contamination grain; d7's
    // 3-gram CENSUS grain saturates on this closed-vocab corpus and
    // would empty the funnel at sf0.1)
    val bench = gated.where(col("doc_id") % 29 === 0)
      .select(col("doc_id"), col("clean"))
    val corp = gated.where(col("final_ok") && col("doc_id") % 29 =!= 0)
      .select(col("doc_id"), col("clean"))
    val decontamOk = corp.select(col("doc_id"))
      .join(Decontaminate.contaminatedDocs(corp, bench, "doc_id", "clean",
          k = deconK).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
    // one SLIM doc-grain frame carries every stage flag (clean text
    // deliberately dropped — the census never reads it, and a cached
    // text column would just slow every census scan)
    val flags = gated
      .select(col("doc_id"), col("lang"), col("words"), col("clean_ok"),
        col("url_ok"), col("final_ok"))
      .join(decontamOk.withColumn("decon_ok", lit(true)), Seq("doc_id"),
        "left")
      .withColumn("decon_ok", coalesce(col("decon_ok"), lit(false)))
      .persist()
    // MIX: pipe10's budgeted selection over the decontaminated survivors
    val kept = mixSelectOn(s, flags.where(col("decon_ok"))
        .select(col("doc_id"), col("lang"), col("words").as("toks")))
      .persist()
    // FUNNEL census: all five stages in ONE conditional-sum aggregate
    // (a groupBy per stage = 5 cache scans + 5 shuffles for identical
    // output), exploded to the long format; cnt > 0 reproduces the
    // per-stage groupBy's only-populated-groups semantics exactly
    val stages = Seq(
      ("0_raw", lit(true)), ("1_clean", col("clean_ok")),
      ("2_url", col("url_ok")), ("3_uniq", col("final_ok")),
      ("4_decon", col("decon_ok")))
    val aggs = stages.flatMap { case (st, c) => Seq(
      sum(when(c, 1L).otherwise(0L)).as(s"c_$st"),
      sum(when(c, col("words")).otherwise(0L)).as(s"t_$st")) }
    val langCensus = flags.groupBy(col("lang")).agg(aggs.head, aggs.tail: _*)
    val funnel = langCensus
      .select(col("lang"), explode(array(stages.map { case (st, _) =>
        struct(lit(st).as("st"), col(s"c_$st").as("cnt"),
          col(s"t_$st").as("toks"))
      }: _*)).as("e"))
      .where(col("e.cnt") > 0)
      .select(lit("funnel").as("section"),
        concat(col("lang"), lit("|"), col("e.st")).as("k"),
        col("e.cnt").as("cnt"), col("e.toks").as("toks"),
        lit(0L).as("aux"))
    // MIX census + PACK arithmetic off ONE aggregate (windows =
    // ceil(toks/ctx) — per-lang sums only, never a per-doc cumsum)
    val win = expr(s"(mt + ${PackCtx - 1}) div $PackCtx")
    val mixPack = kept.groupBy(col("lang"))
      .agg(count(lit(1)).as("cnt"), sum(col("toks")).as("mt"),
        max(col("target")).as("tg"))
      .select(explode(array(
        struct(lit("funnel").as("section"),
          concat(col("lang"), lit("|5_mix")).as("k"),
          col("cnt"), col("mt").as("toks"), col("tg").as("aux")),
        struct(lit("pack").as("section"), col("lang").as("k"),
          win.as("cnt"), (win * PackCtx - col("mt")).as("toks"),
          lit(0L).as("aux")))).as("e"))
      .select(col("e.*"))
    // MANIFEST: m6's shard assignment + order-independent digest over the
    // final kept docs
    val h = conv(substring(md5(concat(lit("mshard:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val shardRows = kept.withColumn("h", h)
      .withColumn("shard", pmod(col("h"), lit(PackShards)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("cnt"), sum(col("toks")).as("toks"),
        sum(col("h") % 1000000007L).as("aux"))
      .select(lit("shard").as("section"), col("shard").cast("string").as("k"),
        col("cnt"), col("toks"), col("aux"))
    funnel.unionByName(mixPack).unionByName(shardRows)
      .orderBy(col("section"), col("k"))
  }

  /** PIPE16: the STREAMING-PLANE epoch spine — pipe15's composition run
    * incrementally, the production form (a crawl never arrives as one
    * batch). Yesterday's state stages once per (sf dir): the curated base
    * corpus's batch-tagged MinHash index (even doc_ids, clean_ok docs'
    * clean text), the benchmark 8-gram shingle set (the base's mod-29
    * class, gate-independent — an eval set exists regardless of curation
    * verdicts), and the base clean-token total that fixes the epoch's
    * per-lang budgets (base × MixFracPpm split by MixWeightsPpm, integer
    * algebra both engines repeat; budgeting today's epoch from
    * yesterday's supply is the causally-sound form, and both sides scale
    * with SF so the budget BINDS mid-stream at every tested scale — the
    * r14 sanity discipline designed in, not checked in later). Odd
    * doc_ids stream in `Pipe16Batches` ordered micro-batches; each flows
    * curation ([[curationCleaned]] — the same chain as pipe6/pipe15) →
    * decontamination vs the staged set → w16 admission (append-back
    * index) → the incremental mix ledger (running per-lang token sums vs
    * target; crossing doc included, then the lang closes) → manifest +
    * funnel deltas ([[graft.operators.EpochSpine.ingestBatch]] — tagged
    * append-only stores, crash-replay idempotent).
    *
    * Output: long-format census — per-(batch, lang, stage) funnel rows,
    * per-lang ledger rows (aux = the token target), per-shard manifest
    * rollup (aux = the order-independent digest). The DuckDB twin unrolls
    * every batch from scratch (the w16/w20 proof shape, chained through
    * BOTH the admission index and the ledger state), so one doc
    * mis-curated, wrongly decontaminated, mis-admitted in any round
    * (including via append-back), mixed against a stale ledger, or
    * mis-sharded hash-fails. */
  def pipe16StreamEpoch(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val staged = stagedDir("pipe16base", d) { root =>
      val base = curationCleaned(Tables.documents(s, d)
        .where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"), col("source"), col("text")))
        .persist()
      Dedup.writeTaggedIndex(base.where(col("clean_ok")), "doc_id",
        "clean", s"$root/idx", MinhashK, MinhashBands, W16ShingleK,
        tag = -1L, org.apache.spark.sql.SaveMode.Overwrite)
      base.where(col("doc_id") % 29 === 0)
        .select(explode(TextAnalysis.shingleHashes(col("clean"),
          Pipe15DeconK)).as("sh"))
        .distinct()
        .coalesce(1).write.mode("overwrite").parquet(s"$root/bench")
      base.where(col("clean_ok"))
        .agg(sum(col("words")).as("base_toks"))
        .coalesce(1).write.mode("overwrite").parquet(s"$root/meta")
      base.unpersist()
    }
    val baseToks = s.read.parquet(s"$staged/meta").head.getLong(0)
    val budget = baseToks * MixFracPpm / 1000000L
    val targets = MixWeightsPpm.map { case (l, w) =>
      (l, budget * w / 1000000L) }
    val root = scratchDir("pipe16q")
    val idx = root.resolve("idx")
    // bench-run isolation: copy the staged base index, stream appends
    // into the copy (see copyTree)
    copyTree(java.nio.file.Paths.get(s"$staged/idx"), idx)
    // the drop dir is a memoized staged artifact (deterministic fixture
    // input — see stagedDropDir); only mutable state is per-run scratch
    val drop = stagedDropDir("pipe16drop", d, Pipe16Batches, "parquet") {
      tmp =>
        Tables.documents(s, d).where(col("doc_id") % 2 === 1)
          .select(col("doc_id"), col("lang"), col("source"), col("text"),
            (expr("doc_id div 2") % Pipe16Batches).as("batch"))
          .repartition(1).sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite").partitionBy("batch").parquet(tmp)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("source",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val census = root.resolve("census").toString
    graft.streaming.EpochStream.runEpoch(s, drop,
      root.resolve("ckpt").toString, b => curationCleaned(b),
      s"$staged/bench", idx.toString, root.resolve("sink").toString,
      census, targets, MinhashK, MinhashBands, W16ShingleK,
      MinhashThreshold, Pipe15DeconK, PackShards, schema,
      statePartitions = 8)
      .awaitTermination()
    // output assembly from the ONE census store, read through distinct()
    // (the replay contract: a replayed batch's re-appends are byte-equal
    // rows); the store is census-grain tiny, so its three section
    // consumers just re-read it — no persist to leak
    val st = s.read.parquet(census).distinct()
    val fun = st.where(col("section") === "funnel" && col("cnt") > 0)
      .select(lit("funnel").as("section"),
        concat(lit("b"), col("batch"), lit("|"), col("lang"), lit("|"),
          col("stage")).as("k"),
        col("cnt"), col("toks"), lit(0L).as("aux"))
    val led = targets.toDF("lang", "target").join(
        st.where(col("section") === "ledger")
          .groupBy(col("lang"))
          .agg(sum(col("cnt")).as("cnt"), sum(col("toks")).as("toks")),
        Seq("lang"), "left")
      .select(lit("ledger").as("section"), col("lang").as("k"),
        coalesce(col("cnt"), lit(0L)).as("cnt"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        col("target").as("aux"))
    val man = st.where(col("section") === "shard")
      .groupBy(col("shard"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("toks")).as("toks"),
        sum(col("aux")).as("aux"))
      .select(lit("shard").as("section"),
        col("shard").cast("string").as("k"), col("cnt"), col("toks"),
        col("aux"))
    fun.unionByName(led).unionByName(man)
      .orderBy(col("section"), col("k"))
  }

  /** T23: weighted sampling WITHOUT replacement (Efraimidis–Spirakis 2006),
    * integer-exact: for integer weight w, the A-ES key u^(1/w) has exactly
    * the distribution of the MAX of w iid uniforms, so the key is computed
    * as max over i∈[1,w] of the repo's portable md5 hash of (doc_id, i) —
    * no pow/ln in the oracle contract, bit-identical across engines. The
    * key is pure map-side column math (an inline array of ≤8 hashes, no
    * explode, no shuffle); the global top-k is TakeOrderedAndProject
    * (per-partition heap + k-row driver merge) — the shape that holds at
    * any corpus size. Weight = length bucket: 1 + n_chars div 400, capped
    * at 8 (longer docs proportionally likelier, the curriculum-sampling
    * move). */
  def t23WeightedSample(s: SparkSession, d: String): DataFrame = {
    val w = least(lit(8L), lit(1L) + expr("n_chars div 400")).cast("int")
    val skey = array_max(transform(sequence(lit(1), col("w")),
      i => conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
        i.cast("string"))), 1, 15), 16, 10).cast("long")))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), w.as("w"))
      .withColumn("skey", skey)
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(100)
  }

  /** T24: leakage-safe train/val/test split — the split key is the
    * portable hash of the GROUP (source), not the document, so every doc
    * of a source lands in the same split and near-duplicates sharing a
    * source can never leak train→test (the grouped-split discipline of
    * C4/RefinedWeb-style corpus prep). Pure map-side predicate + one
    * group aggregate; no shuffle beyond the final stats rollup. 80/10/10
    * by hash mod 100 — deterministic, retry-stable, and at 100 TB the
    * assignment never needs a lookup table. */
  def t24GroupedSplit(s: SparkSession, d: String): DataFrame = {
    val h = conv(substring(md5(concat(lit("split:"), col("source"))), 1, 15),
      16, 10).cast("long") % 100
    Tables.documents(s, d)
      .withColumn("split",
        when(h < 80, "train").when(h < 90, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("total_chars"))
      .orderBy(col("split"), col("lang"))
  }

  /** A19: column profiling — the ANALYZE-style stats sweep a pipeline
    * runs before planning (row counts, exact distincts, ranges, sums per
    * column), as one PRUNED single-column scan + tight two-stage
    * distinct aggregate per column, unioned (plan-locked: every scan
    * reads exactly one column, no Expand). Sums accumulate in decimal
    * (order-independent), keys ≤ 2^53 so the double output is exact. At
    * 100 TB the exact distincts swap for approx_count_distinct and the
    * five scans collapse to one. */
  def a19Profile(s: SparkSession, d: String): DataFrame = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_orderkey")
    // one pruned single-column scan per profiled column, unioned: each
    // aggregate is a tight two-stage distinct (no Expand), and parquet
    // column pruning means the 5 scans together read exactly the same
    // bytes one all-column pass would — measured 2.3× faster than the
    // single-agg multi-countDistinct plan, whose ×(k+1) Expand drags
    // every non-distinct aggregate through the row amplification too
    val li = Tables.lineitem(s, d)
    cols.map { c =>
      li.select(col(c))
        .agg(count(col(c)).as("n_rows"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c).cast("double")).as("min_v"),
          max(col(c).cast("double")).as("max_v"),
          sum(col(c).cast("decimal(28,2)")).cast("double").as("sum_v"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_distinct"),
          col("min_v"), col("max_v"), col("sum_v"))
    }.reduce(_ unionByName _)
      .orderBy(col("col_name"))
  }

  /** K5: schema-evolution read — two write epochs with DIFFERENT schemas
    * (epoch 2 adds n_chars + source) land in one parquet dir; the merged
    * read (`mergeSchema`) nulls the missing columns for epoch-1 rows, and
    * the aggregate proves no row was lost, duplicated, or mis-nulled
    * (the oracle recomputes the same stats from the original table with
    * the epoch rule inlined). This is the append-only evolution story a
    * long-lived 100 TB store needs: old files are never rewritten, new
    * columns appear as nulls behind a footer-merge — and the footer merge
    * is a metadata operation, not a data scan. */
  def k5SchemaMerge(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // both epochs are pure functions of the corpus: write ONCE per
    // (query, sf dir) per JVM; the read path (footer merge) is the query
    val root = stagedDir("k5", d) { r =>
      val ev = s"$r/docs_evolving"
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("lang"))
        .write.mode("append").parquet(ev)
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("source"))
        .write.mode("append").parquet(ev)
    } + "/docs_evolving"
    s.read.option("mergeSchema", "true").parquet(root)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        count(col("n_chars")).as("n_evolved"),
        sum(col("n_chars")).as("total_new_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang"))
  }

  /** K6: the JSONL ingest seam EXERCISED through the oracle gate — the
    * interchange format every LLM corpus actually arrives in. The
    * documents table is exported as gzip JSONL, a hand-written side file
    * adds two well-formed rows plus one malformed line, and the read-back
    * uses an EXPLICIT schema (schema-on-read — no sampling-inference scan,
    * which at 100 TB would read the corpus twice) in PERMISSIVE mode with
    * a corrupt-record column, so one bad line becomes one quarantined row
    * instead of a dead job. The census per lang carries a 60-bit
    * md5-derived content checksum (mod 1e9+7 so a billion-row sum still
    * fits in int64): any character the JSON writer or parser mangles in
    * round-trip breaks the oracle hash. Corrupt rows surface as their own
    * `?corrupt` group with zeroed sums — count-visible, never silently
    * dropped. Scale note: gzip makes one task per file (a .gz member is
    * not splittable) — parallelism = file count, which the upstream
    * writer's partitioning already set; at 100 TB prefer zstd/none for
    * splittable scans, same plan otherwise. */
  /** K7: corpus snapshot diff — the data-versioning primitive behind
    * incremental crawls and dataset releases: given snapshot v1 and the
    * next crawl v2, classify every doc as added / removed / changed /
    * unchanged and census the churn per (status, lang) with a content
    * checksum over the SURVIVING text. v2 is synthesized deterministically
    * from v1 (doc_id%10 removed, %7 text-revised, %13 re-crawled under a
    * +10M id — all map-side column algebra the oracle repeats verbatim).
    * The diff itself is ONE hash-partitioned full-outer equi-join on the
    * doc key + a map-side text comparison — at 100 TB both snapshots
    * shuffle once on a uniform key (or zero times if both are bucketed by
    * doc_id, j10's layout), no sort, no window, and the churn census is a
    * |status×langs|-row aggregate. Feeding ONLY the 'added'+'changed'
    * slice to d15's incremental dedup is the snapshot-to-snapshot
    * pipeline. */
  /** k7/k9's deterministic snapshot pair: v2 drops doc_id%10==0, revises
    * %7==0 texts, re-crawls %13==0 under shifted ids — ONE definition so
    * the diff (k7) and the drift census (k9) audit the same epochs. */
  private def snapshotPair(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val v1 = Tables.documents(s, d).select(
      col("doc_id"), col("lang"), col("text"))
    val v2 = v1.where(col("doc_id") % 10 =!= 0)
      .withColumn("text", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      .unionByName(v1.where(col("doc_id") % 13 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("lang"),
          concat(lit("recrawl "), col("text")).as("text")))
    (v1, v2)
  }

  def k7SnapshotDiff(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = snapshotPair(s, d)
    val a = v1.select(col("doc_id"), col("lang").as("lang1"),
      col("text").as("t1"))
    val b = v2.select(col("doc_id"), col("lang").as("lang2"),
      col("text").as("t2"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("t1").isNull, "added")
          .when(col("t2").isNull, "removed")
          .when(col("t1") =!= col("t2"), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"), coalesce(col("lang2"), col("lang1")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("sum_doc_id"),
        sum(conv(substring(md5(coalesce(col("t2"), col("t1"))), 1, 15),
          16, 10).cast("long") % 1000000007L).as("text_hash"))
      .orderBy(col("status"), col("lang"))
  }

  /** K9: DATA-DRIFT CENSUS between snapshot epochs — the monitoring
    * query that pages a pipeline owner BEFORE k7's row-level diff is
    * worth reading: per language, both epochs' doc counts, corpus
    * shares (integer ppm of each epoch's total), character mass, and
    * the absolute share drift — the L1 term of a population-stability
    * check, exact integer arithmetic end to end (no ln, no PSI float).
    * Same deterministic epoch pair as k7 (shared builder, cannot
    * drift apart). Scale shape: two lang-grain censuses + two 1-row
    * totals + a |langs|-row join — corpus-linear scans, model-sized
    * everything else. */
  def k9DriftCensus(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = snapshotPair(s, d)
    def census(v: DataFrame, tag: String) = v.groupBy(col("lang"))
      .agg(count(lit(1)).as(s"n_$tag"),
        sum(length(col("text")).cast("long")).as(s"chars_$tag"))
    census(v1, "a").join(census(v2, "b"), Seq("lang"), "full_outer")
      .crossJoin(broadcast(v1.agg(count(lit(1)).as("t1"))))
      .crossJoin(broadcast(v2.agg(count(lit(1)).as("t2"))))
      .select(col("lang"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("chars_a"), lit(0L)).as("chars_a"),
        coalesce(col("chars_b"), lit(0L)).as("chars_b"),
        expr("coalesce(n_a, 0) * 1000000 div t1").as("share_a_ppm"),
        expr("coalesce(n_b, 0) * 1000000 div t2").as("share_b_ppm"))
      .withColumn("drift_ppm",
        abs(col("share_a_ppm") - col("share_b_ppm")))
      .orderBy(col("lang"))
  }

  /** K10: CROSS-SNAPSHOT CONTAMINATION DRIFT — the round-10 verdict's
    * item-6(b) composition: k7's snapshot diff drives d19's incremental
    * decontamination AND a per-lang drift census in ONE plan. Yesterday's
    * contamination table (corpus-v1, a staged artifact) provides the v1
    * census with ZERO shingle work; tonight pays one hash-partitioned
    * full-outer diff, shingle work on only the added/changed docs, and
    * model-sized census joins. Output per lang: contaminated counts and
    * integer-ppm contaminated SHARES for both snapshots plus the
    * absolute drift — the eval-leakage trend line a nightly pipeline
    * alerts on. The DuckDB twin recomputes BOTH censuses full-scan from
    * v1 and v2, so hash equality proves the incremental v2 census ≡ the
    * full recompute (d19's contract, extended to the drift algebra). */
  def k10ContaminationDrift(s: SparkSession, d: String): DataFrame = {
    val (v1, v2) = snapshotPair(s, d)
    val bench = v1.where(col("doc_id") % 29 === 0)
    val corp1 = v1.where(col("doc_id") % 29 =!= 0)
    val corp2 = v2.where(col("doc_id") % 29 =!= 0)
    val prevDir = stagedDir("k10prev", d) { root =>
      Decontaminate.contaminatedDocs(corp1, bench, "doc_id", "text", k = 3)
        .write.mode("overwrite").parquet(s"$root/prev")
    } + "/prev"
    val prev = s.read.parquet(prevDir)
    val diff = corp1.select(col("doc_id"), col("text").as("t1"))
      .join(corp2.select(col("doc_id"), col("text").as("t2")),
        Seq("doc_id"), "full_outer")
    val carriedIds = diff
      .where(col("t1").isNotNull && col("t2").isNotNull &&
        col("t1") === col("t2"))
      .select(col("doc_id"))
    val delta = diff
      .where(col("t2").isNotNull &&
        (col("t1").isNull || col("t1") =!= col("t2")))
      .select(col("doc_id"), col("t2").as("text"))
    val cont2 = prev.join(carriedIds, Seq("doc_id"), "left_semi")
      .unionByName(
        Decontaminate.contaminatedDocs(delta, bench, "doc_id", "text", k = 3))
    def census(cont: DataFrame, corp: DataFrame, tag: String) =
      cont.join(corp.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy(col("lang")).agg(count(lit(1)).as(s"n_contam_$tag"))
    def totals(corp: DataFrame, tag: String) =
      corp.groupBy(col("lang")).agg(count(lit(1)).as(s"tot_$tag"))
    totals(corp1, "v1").join(totals(corp2, "v2"), Seq("lang"), "full_outer")
      .join(census(prev, corp1, "v1"), Seq("lang"), "left_outer")
      .join(census(cont2, corp2, "v2"), Seq("lang"), "left_outer")
      .select(col("lang"),
        coalesce(col("n_contam_v1"), lit(0L)).as("n_contam_v1"),
        coalesce(col("n_contam_v2"), lit(0L)).as("n_contam_v2"),
        // non-negative integer division — the div/floor seam is safe here
        expr("coalesce(n_contam_v1, 0) * 1000000 div coalesce(tot_v1, 1)")
          .as("share_v1_ppm"),
        expr("coalesce(n_contam_v2, 0) * 1000000 div coalesce(tot_v2, 1)")
          .as("share_v2_ppm"))
      .withColumn("drift_ppm",
        abs(col("share_v1_ppm") - col("share_v2_ppm")))
      .orderBy(col("lang"))
  }

  def k6JsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val root = stagedDir("k6_jsonl", d) { dir =>
      Tables.documents(s, d).write.mode("overwrite")
        .option("compression", "gzip").json(dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "side_feed.json"),
        java.util.Arrays.asList(
          // sentinel lang "zz~side": a tilde can never appear in a
          // generator lang code, so these side rows can never merge into a
          // corpus lang group (the oracle hard-codes them as their own
          // group; a corpus lang colliding would silently break parity)
          """{"doc_id":9000001,"text":"extra alpha","lang":"zz~side","source":"side","n_chars":11}""",
          """{"doc_id":9000002,"text":"extra beta","lang":"zz~side","source":"side","n_chars":10}""",
          """{"doc_id":9000003,"text":"truncated"""))
      ()
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType), StructField("_bad", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .json(root)
      .groupBy(coalesce(col("lang"), lit("?corrupt")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("n_chars"), lit(0L))).as("total_chars"),
        sum(coalesce(col("doc_id"), lit(0L))).as("sum_doc_id"),
        sum(coalesce(
          conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long")
            % 1000000007L, lit(0L))).as("text_hash"))
      .orderBy(col("lang"))
  }

  /** name → query fn, in SURVEY §2 inventory order. */
  val all: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "q1_pricing_summary" -> q1PricingSummary _,
    "q3_shipping_priority" -> q3ShippingPriority _,
    "q6_forecast_revenue" -> q6ForecastRevenue _,
    "q14_promo_revenue" -> q14PromoRevenue _,
    "q5_local_supplier" -> q5LocalSupplier _,
    "q18_large_orders" -> q18LargeOrders _,
    "q4_order_priority" -> q4OrderPriority _,
    "q8_market_share" -> q8MarketShare _,
    "q13_custdist" -> q13CustDist _,
    "q15_top_supplier" -> q15TopSupplier _,
    "q17_small_quantity" -> q17SmallQuantity _,
    "q7_trade_flows" -> q7TradeFlows _,
    "q10_returned_items" -> q10ReturnedItems _,
    "q9_product_profit" -> q9ProductProfit _,
    "q2_min_cost_supplier" -> q2MinCostSupplier _,
    "q11_important_value" -> q11ImportantValue _,
    "q12_priority_split" -> q12PrioritySplit _,
    "q16_supplier_count" -> q16SupplierCount _,
    "q19_disjunctive_revenue" -> q19DisjunctiveRevenue _,
    "q20_promotion_suppliers" -> q20PromotionSuppliers _,
    "q21_waiting_supplier" -> q21WaitingSupplier _,
    "q22_idle_customers" -> q22IdleCustomers _,
    "s4_centroids" -> s4Centroids _,
    "x1_asof_join" -> x1AsofJoin _,
    "x2_range_join" -> x2RangeJoin _,
    "x3_overlap_join" -> x3OverlapJoin _,
    "a1_watermark_max" -> a1WatermarkMax _,
    "a2_integrity_hours" -> a2IntegrityHours _,
    "a3_latest_per_user" -> a3LatestPerUser _,
    "a5_distinct_users" -> a5DistinctUsers _,
    "a8_rollup" -> a8Rollup _,
    "a9_approx_distinct" -> a9ApproxDistinct _,
    "a13_approx_quantiles" -> a13ApproxQuantiles _,
    "a14_retention" -> a14Retention _,
    "a15_cms" -> a15CmsHeavyHitters _,
    "a16_seq_convert" -> a16SeqConvert _,
    "a18_pagerank" -> a18Pagerank _,
    "a10_cube" -> a10Cube _,
    "a11_dispersion" -> a11Dispersion _,
    "a12_correlation" -> a12Correlation _,
    "w7_ranks" -> w7Ranks _,
    "w8_frame_edges" -> w8FrameEdges _,
    "w9_stream_windows" -> w9StreamWindows _,
    "w10_stream_sessions" -> w10StreamSessions _,
    "w11_stream_dedup" -> w11StreamDedup _,
    "w12_stream_join" -> w12StreamJoin _,
    "w13_scd2" -> w13Scd2 _,
    "w14_stateful_cursor" -> w14StatefulCursor _,
    "w15_interpolate" -> w15Interpolate _,
    "w16_stream_admission" -> w16StreamAdmission _,
    "w20_vector_admission" -> w20VectorAdmission _,
    "w21_stream_requant" -> w21StreamRequant _,
    "m7_stream_media" -> m7StreamMedia _,
    "w17_ohlcv_candles" -> w17OhlcvCandles _,
    "w18_candle_cascade" -> w18CandleCascade _,
    "w19_stream_candles" -> w19StreamCandles _,
    "w5_rolling_stats" -> w5RollingStats _,
    "w6_session_windows" -> w6SessionWindows _,
    "w1_gap_scan" -> w1GapScan _,
    "w2_boundary_gaps" -> w2BoundaryGaps _,
    "w3_gap_islands" -> w3GapIslands _,
    "w4_fetch_windows" -> w4FetchWindows _,
    "j1_dim_join" -> j1DimJoin _,
    "j3_fullouter_merge" -> j3FullOuterMerge _,
    "j5_double_lookup" -> j5DoubleLookup _,
    "j6_anti_join" -> j6AntiJoin _,
    "j7_scalar_lookup" -> j7ScalarLookup _,
    "j8_semi_join" -> j8SemiJoin _,
    "j9_salted_join" -> j9SaltedJoin _,
    "j13_adaptive_salt" -> j13AdaptiveSalt _,
    "j10_bucketed" -> j10Bucketed _,
    "k4_compaction" -> k4Compaction _,
    "j4_funding_lookup" -> j4FundingLookup _,
    "p2_align_floor" -> p2AlignFloor _,
    "p4_unit_normalize" -> p4UnitNormalize _,
    "p6_precision" -> p6Precision _,
    "p7_decimal_str" -> p7DecimalStr _,
    "p8_enum_map" -> p8EnumMap _,
    "p9_canonical_map" -> p9CanonicalMap _,
    "p10_ratio_split" -> p10RatioSplit _,
    "p11_interval_snap" -> p11IntervalSnap _,
    "p12_prob_norm" -> p12ProbNorm _,
    "p13_entity_classify" -> p13EntityClassify _,
    "p14_tag_fallback" -> p14TagFallback _,
    "p15_aes_roundtrip" -> p15AesRoundtrip _,
    "p16_filter_scan" -> p16FilterScan _,
    "p17_threshold_filter" -> p17ThresholdFilter _,
    "o1_topn" -> o1TopN _,
    "o5_union_distinct" -> o5UnionDistinct _,
    "o7_zorder" -> o7Zorder _,
    "d1_exact_dedup" -> d1ExactDedup _,
    "d2_jaccard_pairs" -> d2JaccardPairs _,
    "d3_minhash_lsh" -> d3MinhashLsh _,
    "d4_simhash" -> d4Simhash _,
    "d5_embedding_dups" -> d5EmbeddingDups _,
    "d6_simhash_pairs" -> d6SimhashPairs _,
    "d7_contamination" -> d7Contamination _,
    "d11_bloom_contamination" -> d11BloomContamination _,
    "d12_substring_dedup" -> d12SubstringDup _,
    "d8_passage_dedup" -> d8PassageDedup _,
    "d9_dup_clusters" -> d9DupClusters _,
    "d18_cluster_census" -> d18ClusterCensus _,
    "d19_incremental_decontam" -> d19IncrementalDecontam _,
    "d10_semantic_dedup" -> d10SemanticDedup _,
    "d13_cluster_keep_best" -> d13ClusterKeepBest _,
    "d14_minhash_est_error" -> d14MinhashEstError _,
    "d16_minhash_est_sampled" -> d16MinhashEstSampled _,
    "d17_lsh_tuning" -> d17LshTuning _,
    "d15_incremental_dedup" -> d15IncrementalDedup _,
    "d20_prefix_filter_pairs" -> d20PrefixFilterPairs _,
    "d21_sorted_neighborhood" -> d21SortedNeighborhood _,
    "d22_chunk_resemblance" -> d22ChunkResemblance _,
    "d23_containment_pairs" -> d23ContainmentPairs _,
    "d24_adaptive_semdedup" -> d24AdaptiveSemanticDedup _,
    "pipe1_funnel" -> pipe1Funnel _,
    "pipe2_stream_funnel" -> pipe2StreamFunnel _,
    "pipe3_embed_funnel" -> pipe3EmbedFunnel _,
    "t1_lang_id" -> t1LangId _,
    "t31_label_noise" -> t31LabelNoise _,
    "t32_novelty_census" -> t32NoveltyCensus _,
    "t33_classifier_loop" -> t33ClassifierLoop _,
    "t2_quality_score" -> t2QualityScore _,
    "t3_token_stats" -> t3TokenStats _,
    "t4_fingerprint" -> t4Fingerprint _,
    "t5_subword_count" -> t5SubwordCount _,
    "t6_stratified_sample" -> t6StratifiedSample _,
    "t7_repetition" -> t7Repetition _,
    "t8_length_quantiles" -> t8LengthQuantiles _,
    "t9_sequence_packing" -> t9SequencePacking _,
    "t10_redaction" -> t10Redaction _,
    "t11_top_ngrams" -> t11TopNgrams _,
    "t12_doc_freq" -> t12DocFreq _,
    "t13_mix_rebalance" -> t13MixRebalance _,
    "t14_perceptron" -> t14Perceptron _,
    "t15_gopher_rules" -> t15GopherRules _,
    "t16_domain_cap" -> t16DomainCap _,
    "t17_lm_perplexity" -> t17LmPerplexity _,
    "t30_dsir_weights" -> t30DsirWeights _,
    "t34_doremi_mix" -> t34DoremiMix _,
    "t35_curriculum_schedule" -> t35CurriculumSchedule _,
    "t36_bigram_lm" -> t36BigramLm _,
    "t37_vocab_growth" -> t37VocabGrowth _,
    "t18_bpe_merges" -> t18BpeMerges _,
    "t19_bpe_fertility" -> t19BpeFertility _,
    "t20_line_dedup" -> t20LineDedup _,
    "t21_bm25" -> t21Bm25 _,
    "t22_postings" -> t22PostingsServe _,
    "t23_weighted_sample" -> t23WeightedSample _,
    "j11_pit_join" -> j11PitJoin _,
    "j12_fuzzy_join" -> j12FuzzyJoin _,
    "m4_batch_infer" -> m4BatchInfer _,
    "m5_pair_filter" -> m5PairFilter _,
    "m6_shard_manifest" -> m6ShardManifest _,
    "o8_range_shards" -> o8RangeShards _,
    "o9_compaction_plan" -> o9CompactionPlan _,
    "o10_skip_census" -> o10SkipCensus _,
    "o11_hotkey_census" -> o11HotkeyCensus _,
    "a20_mad_outliers" -> a20MadOutliers _,
    "a21_sketch_union" -> a21SketchUnion _,
    "a29_sketch_overlap" -> a29SketchOverlap _,
    "a30_markov_attribution" -> a30MarkovAttribution _,
    "a22_retention_cohorts" -> a22RetentionCohorts _,
    "a23_window_funnel" -> a23WindowFunnel _,
    "a24_attribution" -> a24Attribution _,
    "a25_conversion_latency" -> a25ConversionLatency _,
    "a26_active_users" -> a26ActiveUsers _,
    "a27_session_metrics" -> a27SessionMetrics _,
    "a28_ltv_cohorts" -> a28LtvCohorts _,
    "t25_cdc_chunks" -> t25CdcChunks _,
    "t38_window_chunks" -> t38WindowChunks _,
    "t26_html_extract" -> t26HtmlExtract _,
    "t27_url_dedup" -> t27UrlDedup _,
    "t28_hybrid_rrf" -> t28HybridRrf _,
    "s17_rerank" -> s17Rerank _,
    "s18_mmr_diversify" -> s18MmrDiversify _,
    "pipe4_pack_export" -> pipe4PackExport _,
    "pipe5_backfill_closure" -> pipe5BackfillClosure _,
    "pipe6_web_curation" -> pipe6WebCuration _,
    "pipe7_warc_ingest" -> pipe7WarcIngest _,
    "pipe8_seq_pack" -> pipe8SeqPack _,
    "pipe9_crawl_shards" -> pipe9CrawlShards _,
    "pipe10_mix_budget" -> pipe10MixBudget _,
    "pipe11_select_pack" -> pipe11SelectPack _,
    "pipe12_domain_gate" -> pipe12DomainGate _,
    "pipe13_nightly_refresh" -> pipe13NightlyRefresh _,
    "pipe14_index_lifecycle" -> pipe14IndexLifecycle _,
    "pipe15_epoch_spine" -> pipe15EpochSpine _,
    "pipe16_stream_epoch" -> pipe16StreamEpoch _,
    "t29_fix_encoding" -> t29FixEncoding _,
    "t24_grouped_split" -> t24GroupedSplit _,
    "a19_profile" -> a19Profile _,
    "k5_schema_merge" -> k5SchemaMerge _,
    "k6_jsonl_roundtrip" -> k6JsonlRoundtrip _,
    "k7_snapshot_diff" -> k7SnapshotDiff _,
    "k8_vacuum_plan" -> k8VacuumPlan _,
    "k9_drift_census" -> k9DriftCensus _,
    "k10_contamination_drift" -> k10ContaminationDrift _,
    "sn1_snapshot_hourly" -> sn1SnapshotHourly _,
    "sn2_book_shape" -> sn2BookShape _,
    "m1_multimodal_meta" -> m1MultimodalMeta _,
    "m2_payload_sha256" -> m2PayloadSha256 _,
    "m3_payload_features" -> m3PayloadFeatures _,
    "s1_cosine_topk" -> s1CosineTopK _,
    "s2_lsh_ann" -> s2LshAnn _,
    "s3_ivf_ann" -> s3IvfAnn _,
    "s5_symbol_catalog" -> s5SymbolCatalog _,
    "s6_ivf_probe2" -> s6IvfProbe2 _,
    "s7_int8_ann" -> s7Int8Ann _,
    "s8_mrl_ann" -> s8MrlAnn _,
    "s9_kmeans_step" -> s9KmeansStep _,
    "s10_mrl_ivf" -> s10MrlIvf _,
    "s11_kmeans_train" -> s11KmeansTrain _,
    "s12_pq_ann" -> s12PqAnn _,
    "s13_ivf_pq" -> s13IvfPq _,
    "s14_ann_recall" -> s14AnnRecall _,
    "s15_ivf_index" -> s15IvfIndexPersist _,
    "s19_index_merge" -> s19IndexMerge _,
    "s20_nprobe_sweep" -> s20NprobeSweep _,
    "s21_filtered_ann" -> s21FilteredAnn _,
    "s22_index_staleness" -> s22IndexStaleness _,
    "s23_rank_metrics" -> s23RankMetrics _,
    "s16_hard_negatives" -> s16HardNegatives _)

  /** S2: the full 21-pair symbol-catalog normalizer surface. Renders
    * part-table-derived fixtures into each exchange's raw exchange-info JSON
    * shape, runs the real [[graft.flows.SyncSymbols.registry]] normalizer
    * (JSON parse → status enum → precision derivation → tick rendering), and
    * unions the normalized catalogs. Metadata-scale by nature. */
  def s5SymbolCatalog(s: SparkSession, d: String): DataFrame = {
    val fx = SymbolFixtures.base(s, d)
    val outs = SymbolFixtures.pairs.zipWithIndex.map { case ((exch, inst), pidx) =>
      val body = SymbolFixtures.builders(pidx)(fx.where(col("pidx") === pidx))
      graft.flows.SyncSymbols.registry((exch, inst))(body, pidx + 1, inst)
        .select(col("exchange_id").cast("int").as("exchange_id"), col("symbol"),
          col("inst_type").cast("int").as("inst_type"), col("base_asset"),
          col("quote_asset"), col("status").cast("int").as("status"),
          col("tick_size"), col("step_size"),
          col("price_precision").cast("int").as("price_precision"),
          col("quantity_precision").cast("int").as("quantity_precision"))
    }
    outs.reduce(_ unionByName _).orderBy(col("exchange_id"), col("symbol"))
  }
}

/** pipe5's fixture REST endpoint — top level so the fetch closure shipped
  * to executors captures only this serializable object, not the Queries
  * graph (the SyncKlinesFlowSpec pattern). */
object Pipe5Fixtures {
  def serve(sym: String, s: Long, e: Long): String =
    (s to e by QuerySpec.HourMs).map { ts =>
      s"""[$ts,"100.1","101.2","99.3","100.5","7.5",${ts + QuerySpec.HourMs - 1},"750.0",42,"1","1","0"]"""
    }.mkString("[", ",", "]")
}
