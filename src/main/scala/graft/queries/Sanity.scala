package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{SparkEntry, Tables}
import QuerySpec._

/** DEGENERACY CENSUS over the funnel-shaped queries — the r13 pipe15
  * lesson, systematized (round-14 verdict item 1).
  *
  * The oracle gate (Verify + DuckDB) proves the two engines COMPUTE THE
  * SAME THING; it is blind by construction to a pipeline that is
  * semantically empty, because both engines happily agree on an empty
  * funnel. The r13 incident: pipe15's original 3-gram decontamination
  * grain saturates on this closed-vocabulary corpus at sf0.1
  * (4818/4827 corpus docs "contaminated"), the mix/pack/shard stages ran
  * on ~nothing, and the oracle hash-matched green for a full record
  * cycle. The builder caught it by ad-hoc profiling; this module is the
  * standing gate.
  *
  * Each check loads ONE query's own output (plus cheap input
  * denominators) and asserts stage-level NON-TRIVIALITY: no stage may be
  * 0% or 100% selective unless the fixture intends it, with the intended
  * band stated per query, in code, next to the check. Checks read the
  * query's public output only — no parallel re-implementation that could
  * drift from the real plan.
  *
  * Run via [[main]] at BOTH sf0.01 and sf0.1 (the incident class is
  * scale-dependent: 3-gram decon retention is a plausible 24% at sf0.01
  * and a degenerate 0.2% at sf0.1). The detector itself is
  * regression-tested: SanitySpec re-introduces a degenerate grain through
  * [[Queries.pipe15EpochSpineAt]] and asserts the pipe15 check flags it;
  * the 3-gram grain at sf0.1 was recorded flagged with 8 violations
  * (emptied 4_decon rows ×5 langs, 0/1782 retention, dead mix, 0/8
  * shards).
  */
object Sanity {
  type Check = (SparkSession, String) => Seq[String]

  private def q(name: String)(s: SparkSession, d: String): DataFrame =
    Queries.all.toMap.apply(name)(s, d)

  private def band(what: String, n: Long, den: Long, lo: Double,
      hi: Double): Seq[String] = {
    val r = if (den == 0) -1.0 else n.toDouble / den
    if (den == 0) Seq(s"$what: denominator is 0")
    else if (r < lo || r > hi)
      Seq(f"$what: $n/$den = $r%.4f outside intended ($lo%.3f, $hi%.3f)")
    else Nil
  }

  /** (stage -> count) maps from a (stage, n_docs) funnel output; stages
    * must exist, shrink monotonically, end above zero, and the funnel as
    * a whole must DROP something (final < raw) — a funnel that keeps
    * everything means every gate is dead. */
  private def funnelCheck(stages: Seq[String], rows: Map[String, Long],
      minFinalFrac: Double): Seq[String] = {
    val missing = stages.filterNot(rows.contains)
    if (missing.nonEmpty) return Seq(s"missing stages: $missing")
    val vals = stages.map(rows)
    val mono = vals.sliding(2).zipWithIndex.collect {
      case (Seq(a, b), i) if b > a =>
        s"stage ${stages(i + 1)} grew: ${stages(i)}=$a -> ${stages(i + 1)}=$b"
    }.toSeq
    val fin = vals.last; val raw = vals.head
    mono ++
      (if (fin <= 0) Seq(s"final stage ${stages.last} is EMPTY (raw=$raw)")
       else Nil) ++
      (if (fin >= raw) Seq(s"funnel dropped nothing: raw=$raw final=$fin")
       else Nil) ++
      band(s"final ${stages.last} / raw", fin, raw, minFinalFrac, 0.999)
  }

  private def docsN(s: SparkSession, d: String): Long =
    Tables.documents(s, d).count()
  private def vecsN(s: SparkSession, d: String): Long =
    Tables.embeddings(s, d).count()
  private def allPairs(n: Long): Long = n * (n - 1) / 2

  /** pipe15's check, exposed standalone so SanitySpec can run it against
    * the deliberately re-introduced 3-gram spine. Input = the query's own
    * (section, k, cnt, toks, aux) rows. Intended bands:
    *  - every lang present at 0_raw keeps rows through 4_decon (a stage
    *    row vanishes exactly when its cnt hits 0 — the r13 empty-funnel
    *    signature);
    *  - decon RETENTION (4_decon/3_uniq docs, overall) >= 0.05 — the
    *    8-gram grain retains ~everything minus true span dups; 3-gram at
    *    sf0.1 measured 0.002, which is the mode this flags;
    *  - the mix stage keeps a non-empty set and the budget binds
    *    (5_mix tokens <= 4_decon tokens, strictly, overall);
    *  - pack rows exist for every mixed lang, all PackShards shards are
    *    populated. */
  def pipe15Violations(rows: Seq[(String, String, Long, Long, Long)])
      : Seq[String] = {
    def stage(st: String): Map[String, (Long, Long)] =
      rows.collect { case ("funnel", k, c, t, _) if k.endsWith("|" + st) =>
        k.split('|')(0) -> (c, t)
      }.toMap
    val raw = stage("0_raw"); val uniq = stage("3_uniq")
    val decon = stage("4_decon"); val mix = stage("5_mix")
    val v = scala.collection.mutable.Buffer.empty[String]
    if (raw.isEmpty) v += "no 0_raw rows at all"
    for (lang <- raw.keys.toSeq.sorted; st <- Seq("1_clean", "2_url",
        "3_uniq", "4_decon") if !stage(st).contains(lang))
      v += s"lang $lang emptied at stage $st (funnel row vanished)"
    val uq = uniq.values.map(_._1).sum
    val dc = decon.values.map(_._1).sum
    if (uq > 0)
      v ++= band("decon retention (4_decon/3_uniq docs)", dc, uq, 0.05, 1.0)
    if (mix.isEmpty || mix.values.map(_._1).sum <= 0)
      v += "mix stage kept nothing (5_mix empty)"
    val mixToks = mix.values.map(_._2).sum
    val deconToks = decon.values.map(_._2).sum
    if (deconToks > 0 && mixToks >= deconToks)
      v += s"mix budget did not bind: 5_mix toks $mixToks >= 4_decon toks $deconToks"
    val packLangs = rows.collect { case ("pack", k, c, _, _) if c > 0 => k }
      .toSet
    for (lang <- mix.keys if !packLangs(lang))
      v += s"mixed lang $lang has no pack row"
    val shards = rows.collect { case ("shard", _, c, _, _) => c }
    if (shards.size != PackShards || shards.exists(_ <= 0))
      v += s"shard manifest degenerate: ${shards.size}/$PackShards shards" +
        s" populated (counts $shards)"
    v.toSeq
  }

  private def pipe15Rows(df: DataFrame): Seq[(String, String, Long, Long,
      Long)] = {
    import df.sparkSession.implicits._
    df.select(col("section"), col("k"), col("cnt"), col("toks"), col("aux"))
      .as[(String, String, Long, Long, Long)].collect().toSeq
  }

  def pipe15CheckAt(s: SparkSession, d: String, deconK: Int): Seq[String] =
    pipe15Violations(pipe15Rows(Queries.pipe15EpochSpineAt(s, d, deconK)))

  /** The registry: (query name, check). Intended selectivity bands are
    * stated inline; "docs"/"vecs" denominators are the corpus tables. */
  val checks: Seq[(String, Check)] = Seq(
    "pipe1_funnel" -> { (s, d) =>
      val m = q("pipe1_funnel")(s, d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // quality+lang+dedup+passage+sample keep a real but minority-to-
      // majority slice; an empty or all-pass funnel is degenerate
      funnelCheck(Seq("s0_all", "s1_quality", "s2_lang", "s3_exact_dedup",
        "s4_passage", "s5_sample"), m, minFinalFrac = 0.01)
    },
    "pipe3_embed_funnel" -> { (s, d) =>
      val m = q("pipe3_embed_funnel")(s, d).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      funnelCheck(Seq("s0_all", "s1_quality", "s2_exact", "s3_semantic",
        "s4_sample"), m, minFinalFrac = 0.01)
    },
    "pipe2_stream_funnel" -> { (s, d) =>
      // streamed funnel survivors vs the full corpus: same gates as pipe1
      band("pipe2 survivors/docs", q("pipe2_stream_funnel")(s, d).count(),
        docsN(s, d), 0.01, 0.95)
    },
    "pipe4_pack_export" -> { (s, d) =>
      val rows = q("pipe4_pack_export")(s, d).collect()
      val tot = rows.map(_.getAs[Long]("n_docs")).sum
      (if (rows.exists(_.getAs[Long]("n_seqs") < 1))
        Seq("a (lang, shard) cell packed zero sequences") else Nil) ++
        band("pipe4 exported/docs (gopher+dedup trim)", tot, docsN(s, d),
          0.01, 0.99)
    },
    "pipe5_backfill_closure" -> { (s, d) =>
      val rows = q("pipe5_backfill_closure")(s, d).collect()
      val gaps = rows.map(_.getAs[Long]("n_gaps_after")).sum
      val fetched = rows.map(_.getAs[Long]("n_fetched")).sum
      (if (gaps != 0) Seq(s"backfill left $gaps gaps open") else Nil) ++
        (if (fetched <= 0)
          Seq("backfill fetched nothing (closure was a no-op)") else Nil)
    },
    "pipe6_web_curation" -> { (s, d) =>
      val rows = q("pipe6_web_curation")(s, d).collect()
      val raw = rows.map(_.getAs[Long]("n_raw")).sum
      val fin = rows.map(_.getAs[Long]("n_final")).sum
      val perLang = rows.flatMap { r =>
        val l = r.getAs[String]("lang")
        val seqs = Seq("n_raw", "n_clean", "n_url_unique", "n_final")
          .map(c => c -> r.getAs[Long](c))
        seqs.sliding(2).collect { case Seq((ca, a), (cb, b)) if b > a =>
          s"lang $l: $cb=$b > $ca=$a" }.toSeq ++
          (if (r.getAs[Long]("n_final") <= 0) Seq(s"lang $l emptied")
           else Nil)
      }.toSeq
      perLang ++ band("pipe6 final/raw", fin, raw, 0.05, 0.999)
    },
    "pipe7_warc_ingest" -> { (s, d) =>
      val rows = q("pipe7_warc_ingest")(s, d).collect()
      val resp = rows.filter(_.getAs[String]("wtype") == "response")
      val req = rows.filter(_.getAs[String]("wtype") == "request")
      (if (req.isEmpty || req.map(_.getAs[Long]("n_records")).sum <= 0)
        Seq("no request records censused (filter ran blind)") else Nil) ++
        (if (resp.length < 2)
          Seq(s"responses parsed for ${resp.length} langs (< 2)") else Nil) ++
        (if (resp.exists(_.getAs[Long]("clean_words") <= 0))
          Seq("a response lang extracted ZERO clean words") else Nil)
    },
    "pipe8_seq_pack" -> { (s, d) =>
      // pipe8 packs the WHOLE corpus by design (0% selection intended);
      // degeneracy here = a shard starving or nothing spanning windows
      val rows = q("pipe8_seq_pack")(s, d).collect()
      (if (rows.length != PackShards)
        Seq(s"${rows.length}/$PackShards shards populated") else Nil) ++
        (if (rows.exists(_.getAs[Long]("n_docs") <= 0))
          Seq("an empty shard") else Nil) ++
        (if (rows.map(_.getAs[Long]("n_spanning")).sum <= 0)
          Seq("no doc crosses a window boundary (ctx way oversized?)")
         else Nil)
    },
    "pipe9_crawl_shards" -> { (s, d) =>
      val rows = q("pipe9_crawl_shards")(s, d).collect()
      val tot = rows.map(_.getAs[Long]("n_docs")).sum
      (if (rows.length != PackShards)
        Seq(s"${rows.length}/$PackShards shards populated") else Nil) ++
        (if (rows.exists(_.getAs[Long]("n_docs") <= 0))
          Seq("an empty shard") else Nil) ++
        band("pipe9 packed/docs (curation trim)", tot, docsN(s, d),
          0.05, 0.999)
    },
    "pipe10_mix_budget" -> { (s, d) =>
      val rows = q("pipe10_mix_budget")(s, d).collect()
      val binds = rows.count(r =>
        r.getAs[Long]("kept_toks") >= r.getAs[Long]("target_toks"))
      rows.toSeq.flatMap { r =>
        if (r.getAs[Long]("kept_docs") <= 0)
          Seq(s"lang ${r.getAs[String]("lang")} kept nothing") else Nil
      } ++
        (if (binds == 0)
          Seq("token budget binds for NO lang (selection is a no-op)")
         else Nil)
    },
    "pipe11_select_pack" -> { (s, d) =>
      val rows = q("pipe11_select_pack")(s, d).collect()
      val raw = rows.map(_.getAs[Long]("n_raw")).sum
      val dsir = rows.map(_.getAs[Long]("n_dsir")).sum
      val mixed = rows.map(_.getAs[Long]("n_mix")).sum
      band("pipe11 DSIR pass rate", dsir, raw, 0.05, 0.95) ++
        (if (mixed <= 0) Seq("mix stage kept nothing") else Nil) ++
        rows.toSeq.flatMap { r =>
          if (r.getAs[Long]("n_unique") > r.getAs[Long]("n_dsir"))
            Seq(s"lang ${r.getAs[String]("lang")}: n_unique > n_dsir")
          else Nil
        }
    },
    "pipe12_domain_gate" -> { (s, d) =>
      val rows = q("pipe12_domain_gate")(s, d)
        .groupBy(col("keep")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val kept = rows.getOrElse(1L, 0L); val tot = rows.values.sum
      band("pipe12 domain-gate keep rate", kept, tot, 0.05, 0.95)
    },
    "pipe13_nightly_refresh" -> { (s, d) =>
      val rows = q("pipe13_nightly_refresh")(s, d).collect()
      def sum(c: String) = rows.map(_.getAs[Long](c)).sum
      val n = sum("n_docs")
      (if (sum("n_carried") <= 0) Seq("no docs carried (diff degenerate)")
       else Nil) ++
        (if (sum("n_delta") <= 0) Seq("no delta docs (snapshot move dead)")
         else Nil) ++
        band("pipe13 admitted/docs", sum("n_admitted"), n, 0.05, 0.95) ++
        (if (sum("n_gate_fail") + sum("n_contaminated") + sum("n_dup") <= 0)
          Seq("every rejection class is zero") else Nil)
    },
    "pipe14_index_lifecycle" -> { (s, d) =>
      val rows = q("pipe14_index_lifecycle")(s, d).collect()
      def sum(c: String) = rows.map(_.getAs[Long](c)).sum
      val recall = rows.head.getAs[Long]("recall_ppm")
      (if (sum("n_carried") <= 0) Seq("delta-scoring carried nothing")
       else Nil) ++
        (if (sum("n_reassigned") <= 0) Seq("no row took the re-assign path")
         else Nil) ++
        (if (recall < 500000)
          Seq(s"maintained-index recall $recall ppm < 0.5 (serving broken)")
         else Nil)
    },
    "pipe15_epoch_spine" -> { (s, d) =>
      pipe15Violations(pipe15Rows(q("pipe15_epoch_spine")(s, d)))
    },
    "pipe16_stream_epoch" -> { (s, d) =>
      val rows = q("pipe16_stream_epoch")(s, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      def stage(st: String) = rows.collect {
        case ("funnel", k, c, _, _) if k.endsWith("|" + st) => k -> c }
      val v = scala.collection.mutable.Buffer.empty[String]
      val batches = rows.collect { case ("funnel", k, _, _, _) =>
        k.split('|')(0) }.distinct
      if (batches.length != Pipe16Batches.toInt)
        v += s"${batches.length}/$Pipe16Batches batches produced funnel rows"
      val cl = stage("1_clean").map(_._2).sum
      val dc = stage("2_decon").map(_._2).sum
      val ad = stage("3_admit").map(_._2).sum
      val mx = stage("4_mix").map(_._2).sum
      if (cl > 0) v ++= band("pipe16 decon retention", dc, cl, 0.05, 1.0)
      if (dc > 0) v ++= band("pipe16 admitted/decon-ok", ad, dc, 0.05, 0.99)
      if (mx <= 0) v += "mix ledger admitted nothing across all batches"
      // the budget must BIND somewhere (the crossing rule overshoots by at
      // most one doc, so a bound lang shows toks >= target)
      val ledg = rows.collect { case ("ledger", l, c, t, tgt) => (l, c, t,
        tgt) }
      if (!ledg.exists { case (_, _, t, tgt) => tgt > 0 && t >= tgt })
        v += "token budget binds for NO lang (the ledger never closed)"
      val shardCnt = rows.collect { case ("shard", _, c, _, _) => c }.sum
      if (shardCnt != mx)
        v += s"shard manifest rollup ($shardCnt docs) != mixed docs ($mx)"
      v.toSeq
    },
    "w16_stream_admission" -> { (s, d) =>
      // delta = odd doc_ids; the fixture has real near-dups, so SOME
      // rejection is intended; ~zero admission = the r13 saturation mode
      val admitted = q("w16_stream_admission")(s, d).count()
      val delta = Tables.documents(s, d).where(col("doc_id") % 2 === 1)
        .count()
      band("w16 admitted/delta", admitted, delta, 0.05, 0.99)
    },
    "w20_vector_admission" -> { (s, d) =>
      val admitted = q("w20_vector_admission")(s, d).count()
      val delta = Tables.embeddings(s, d).where(col("vec_id") % 2 === 1)
        .count()
      band("w20 admitted/delta", admitted, delta, 0.05, 0.99)
    },
    "w21_stream_requant" -> { (s, d) =>
      // both epochs must admit SOMETHING (a dead epoch means the refresh
      // or the rebuilt index broke admission wholesale), and the overall
      // rate sits in the w20 band
      val rows = q("w21_stream_requant")(s, d)
        .groupBy(col("epoch")).count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val delta = Tables.embeddings(s, d).where(col("vec_id") % 2 === 1)
        .count()
      val v = scala.collection.mutable.ListBuffer.empty[String]
      (0 until QuerySpec.W21Epochs).foreach { e =>
        if (rows.getOrElse(e.toLong, 0L) == 0L)
          v += s"epoch $e admitted nothing"
      }
      v ++= band("w21 admitted/delta", rows.values.sum, delta, 0.05, 0.99)
      v.toSeq
    },
    "m7_stream_media" -> { (s, d) =>
      // three-gate funnel: arrivals > exact-fresh > admitted, none empty,
      // neither gate dead (the fixture has byte-identical near-dup text
      // AND tightly-clustered byte features — both cuts must bite)
      val rows = q("m7_stream_media")(s, d).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2),
          r.getLong(3), r.getLong(4)))
      def stage(st: String) = rows.collect {
        case ("funnel", k, c, _, _) if k.endsWith("|" + st) => c }.sum
      val v = scala.collection.mutable.Buffer.empty[String]
      val batches = rows.collect { case ("funnel", k, _, _, _) =>
        k.split('|')(0) }.distinct
      if (batches.length != M7Batches)
        v += s"${batches.length}/$M7Batches batches produced funnel rows"
      val arrived = stage("0_arrived"); val exact = stage("1_exact")
      val adm = stage("2_admit")
      if (arrived > 0) v ++= band("m7 exact-fresh/arrived", exact,
        arrived, 0.05, 0.999)
      if (exact > 0) v ++= band("m7 admitted/exact-fresh", adm, exact,
        0.05, 0.999)
      val admRows = rows.count(_._1 == "admit")
      if (admRows != adm)
        v += s"admit rows ($admRows) != funnel 2_admit total ($adm)"
      val shardCnt = rows.collect { case ("shard", _, c, _, _) => c }.sum
      if (shardCnt != adm)
        v += s"shard manifest rollup ($shardCnt docs) != admitted ($adm)"
      v.toSeq
    },
    "t13_mix_rebalance" -> { (s, d) =>
      val rows = q("t13_mix_rebalance")(s, d).collect()
      rows.toSeq.flatMap { r =>
        if (r.getAs[Long]("n_kept") <= 0)
          Seq(s"lang ${r.getAs[String]("lang")} kept nothing") else Nil
      } ++
        (if (!rows.exists(r => r.getAs[Long]("n_kept") <
            r.getAs[Long]("n_in")))
          Seq("rebalance dropped nothing anywhere") else Nil)
    },
    "t16_domain_cap" -> { (s, d) =>
      val rows = q("t16_domain_cap")(s, d)
      val maxRk = rows.agg(max(col("rk"))).head.getInt(0)
      val n = rows.count()
      (if (maxRk < DomainCap)
        Seq(s"cap $DomainCap binds nowhere (max group size $maxRk)")
       else Nil) ++
        (if (n >= docsN(s, d)) Seq("cap dropped nothing") else Nil)
    },
    // d-family PAIR stages: candidate generation must find something and
    // must not explode toward all-pairs (the blocked/banded design's job)
    "d2_jaccard_pairs" -> { (s, d) =>
      band("d2 pairs/allpairs", q("d2_jaccard_pairs")(s, d).count(),
        allPairs(docsN(s, d)), 1e-7, 0.5)
    },
    "d6_simhash_pairs" -> { (s, d) =>
      // closed-vocab corpus: dense near-dup structure intended, cap at 0.9
      band("d6 pairs/allpairs", q("d6_simhash_pairs")(s, d).count(),
        allPairs(docsN(s, d)), 1e-7, 0.9)
    },
    "d20_prefix_filter_pairs" -> { (s, d) =>
      band("d20 pairs/allpairs", q("d20_prefix_filter_pairs")(s, d).count(),
        allPairs(docsN(s, d)), 1e-9, 0.5)
    },
    "d22_chunk_resemblance" -> { (s, d) =>
      band("d22 pairs/allpairs", q("d22_chunk_resemblance")(s, d).count(),
        allPairs(docsN(s, d)), 1e-9, 0.5)
    },
    "d23_containment_pairs" -> { (s, d) =>
      band("d23 pairs/allpairs", q("d23_containment_pairs")(s, d).count(),
        allPairs(docsN(s, d)), 1e-9, 0.5)
    },
    "d10_semantic_dedup" -> { (s, d) =>
      // the SemDeDup cut removes SOME vectors but never ~all of them
      band("d10 survivors/vecs", q("d10_semantic_dedup")(s, d).count(),
        vecsN(s, d), 0.05, 0.9999)
    },
    "d24_adaptive_semdedup" -> { (s, d) =>
      band("d24 survivors/vecs", q("d24_adaptive_semdedup")(s, d).count(),
        vecsN(s, d), 0.05, 0.9999)
    })

  /** Runs the selected checks; prints one line per check and a summary;
    * returns the number of FAILED checks. When `SPARK_GRAFT_SANITY_OUT`
    * is set, also writes the census as a driver-readable JSON artifact
    * (per-check name/status/seconds/violations — the r14 verdict item 6:
    * the gate was previously auditable only by re-running it), so the
    * round record carries `SANITY_rN.json` next to `BENCH_compact.json`. */
  def run(s: SparkSession, d: String, only: Set[String] = Set.empty): Int = {
    val sel = checks.filter { case (n, _) => only.isEmpty || only(n) }
    var bad = 0
    // a filter name that matches NO check is a FAILED check, never a
    // silent shrink of the census to "0/0 checks ok": a typo'd filter or
    // a renamed check must fail the gate loudly
    val unknown = (only -- checks.map(_._1).toSet).toSeq.sorted
    val unknownResults = unknown.map { n =>
      bad += 1
      val v = s"no such check (known: ${checks.map(_._1).mkString(", ")})"
      println(f"SANITY $n%-26s FAIL $v")
      (n, Seq(v), 0.0)
    }
    val results = unknownResults ++ sel.map { case (n, c) =>
      val t0 = System.nanoTime()
      val vs = try c(s, d)
      catch { case e: Throwable => Seq(s"check crashed: $e") }
      val dt = (System.nanoTime() - t0) / 1e9
      if (vs.isEmpty) println(f"SANITY $n%-26s OK   (${dt}%6.1f s)")
      else {
        bad += 1
        vs.foreach(v => println(f"SANITY $n%-26s FAIL $v"))
      }
      (n, vs, dt)
    }
    val total = results.size
    println(s"SANITY: ${total - bad}/$total checks ok ($d)")
    sys.env.get("SPARK_GRAFT_SANITY_OUT").foreach { out =>
      def esc(x: String) = x.replace("\\", "\\\\").replace("\"", "\\\"")
      val rows = results.map { case (n, vs, dt) =>
        val vjson = vs.map(v => "\"" + esc(v) + "\"").mkString("[", ",", "]")
        // Locale.ROOT: the f-interpolator formats through the DEFAULT
        // locale — a comma-decimal JVM would emit "sec":1,23, invalid JSON
        // in a machine-read artifact
        val sec = String.format(java.util.Locale.ROOT, "%.2f",
          Double.box(dt))
        s"""{"name":"${esc(n)}","status":"${if (vs.isEmpty) "ok" else "fail"}","sec":$sec,"violations":$vjson}"""
      }.mkString("[", ",", "]")
      val json =
        s"""{"sf_dir":"${esc(d)}","checks_total":$total,"checks_ok":${total - bad},"checks":$rows}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(out),
        (json + "\n").getBytes("UTF-8"))
      println(s"SANITY census written to $out")
    }
    bad
  }

  /** Census arguments: a directory-looking argument selects the sf dir
    * (the last one wins); every other argument is a check-name filter. */
  def splitArgs(args: Seq[String]): (Option[String], Set[String]) = {
    val (dirs, filters) = args.partition(a =>
      a.contains("/") || new java.io.File(a).isDirectory)
    (dirs.lastOption, filters.toSet)
  }

  /** `Sanity <sfDir> [checkName …]`: runs the census; exits non-zero on
    * any failed check. */
  def main(args: Array[String]): Unit = {
    val (dir, only) = splitArgs(args.toSeq)
    val sfDir = dir.getOrElse {
      System.err.println("usage: Sanity <sfDir> [checkName ...]")
      sys.exit(2)
    }
    val spark = SparkEntry.localSession()
    val bad = try run(spark, sfDir, only) finally spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
