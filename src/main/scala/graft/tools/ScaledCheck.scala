package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.engine.GraftSession

/** SCALED correctness pins — the gate the sf0.01 DuckDB oracle cannot
  * be: scale-DEPENDENT wrongness (an overflow past a `require`
  * boundary, a df-cap engaging and changing survivors, an AQE plan
  * flip reordering a non-deterministic reduction) passes every
  * base-scale gate by construction. This main runs a dozen
  * DETERMINISTIC operators against the ×20-docs / ×10-events / ×20-
  * embeddings corpora (the bench scaled tier's exact inputs) and
  * fingerprints each result: `(row count, order-independent sum of
  * per-row xxhash64 over every column)`. Fingerprints are compared to
  * the committed pins in `SCALED_PINS.txt` and the verdict written to
  * `SCALED_CORRECTNESS.json`; with no pin file the run BOOTSTRAPS the
  * pins instead (commit them — a later drift is then a hash-fail, not
  * a shrug).
  *
  * Only ops with engine-deterministic output qualify: integer/micro
  * arithmetic end to end (pageRank, IPW, QTE, bootstrap, Mann–Whitney,
  * KM ladders), hash-ordered sampling (quotaSample), or pure set
  * results (dedup pairs/clusters, containment survivors, BPE merges).
  * Anything whose result legitimately depends on partial-aggregation
  * order (raw double sums) is banned here by design.
  *
  * `runMain graft.tools.ScaledCheck [sfDir]` — ~2 min at local[32].
  *
  * ORACLE UPGRADE (round 13): the fingerprints alone are trust-on-
  * first-run — they catch drift, not wrongness-at-pin-time. For every
  * estimator gate whose DuckDB `oracleSql` exists, the SAME oracle now
  * also runs against the materialized scaled parquet:
  * {{{
  *   # lay out a scaled sf dir (events ×10, docs ×20, emb ×20 from
  *   # /tmp/graft_scale, other tables symlinked to sf0.1), then:
  *   SPARK_GRAFT_VERIFY_ONLY=p281_…,p314_… \
  *     sbt "runMain graft.Verify /tmp/graft_scaled_sf /tmp/out_scaled"
  *   python3 tools/scaled_oracle.py /tmp/graft_scaled_sf /tmp/out_scaled
  * }}}
  * which hash-compares exactly like the sf0.01 driver gate and merges
  * per-gate `"mode":"oracle"` verdicts into `SCALED_CORRECTNESS.json`
  * (round-13 run: 24/24 green at ×10 events).
  */
object ScaledCheck {

  /** Order-independent fingerprint: row count + wrapping Long sum of
    * per-row xxhash64 over all columns cast to string (NULL → a
    * sentinel concat_ws would otherwise drop, making (a,NULL,b) and
    * (a,b,NULL) collide). */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => coalesce(col(c).cast("string"), lit("§")))
    val r = df.select(count(lit(1)).as("n"),
      sum(xxhash64(concat_ws("|", cols.toSeq: _*))).as("h")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val pinPath = args.drop(1).headOption.getOrElse("SCALED_PINS.txt")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-scaled-check")

    val docsPath = ScaleData.materialize(spark, sfDir, "documents", 20, cpus)
    val eventsPath = ScaleData.materialize(spark, sfDir, "events", 10, cpus)
    val embPath = ScaleData.materialize(spark, sfDir, "embeddings", 20, cpus)
    val docs = spark.read.parquet(docsPath)
    val ev = spark.read.parquet(eventsPath)
      .withColumn("ts", to_timestamp(col("ts")))
    val emb = spark.read.parquet(embPath)

    def pairs = graft.ops.Dedup.nearDupSizesShingled(
        graft.ops.Dedup.withWordShingles(
          docs.select("doc_id", "text"), "doc_id", "text", 3),
        "doc_id", numHashes = 64, bands = 16,
        sizeRatioPrefilter = Some((4, 5)))
      .where(col("i_size") * 5 >= col("u_size") * 4)

    val purch = ev.where(col("event_type") === "purchase")
    val grp = purch.withColumn("grp",
      when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd")))
    val t = floor(unix_micros(col("ts")).cast("double") / lit(1000000.0d))
      .cast("long")
    val subjBase = ev.select(col("user_id"), t.as("_t"))
      .groupBy(col("user_id"))
      .agg(min(col("_t")).as("_f"), max(col("_t")).as("_l"))
    val subj = subjBase.crossJoin(
        broadcast(subjBase.agg(max(col("_l")).as("_gm"))))
      .select(col("user_id"),
        when(col("_gm") - col("_l") > 604800L, expr("(_l - _f) div 86400"))
          .otherwise(expr("(_gm - _f) div 86400")).as("dur"),
        when(col("_gm") - col("_l") > 604800L, 1).otherwise(0).as("ev"))
    val users = ev.groupBy(col("user_id"))
      .agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("_clicks"),
        sum(when(col("event_type") === "purchase",
          floor(col("value").cast("double") * lit(1000000.0d)).cast("long"))
          .otherwise(0L)).as("_ym"))
    val strat = users.withColumn("_s", col("user_id") % 8)
      .withColumn("_t", (col("_clicks") >= 14L).cast("int"))
    val eTab = strat.groupBy(col("_s"))
      .agg(sum(col("_t")).as("_tc"), count(lit(1)).as("_n"))
      .select(col("_s"), greatest(lit(1L), least(lit(999999L),
        expr("_tc * 1000000 div _n"))).as("_e"))

    val checks: Seq[(String, () => (Long, Long))] = Seq(
      // ---- x20 documents ------------------------------------------
      "neardup_pairs" -> (() => fingerprint(pairs.select("a", "b"))),
      "dedup_clusters" -> (() => fingerprint(
        graft.ops.Dedup.dedupClusters(pairs.select("a", "b")))),
      // the relative df ceiling IS the scale-dependent policy under
      // test: cap engagement changing survivors would show here first
      "containment_pairs" -> (() => fingerprint(
        graft.ops.Dedup.containmentPairs(docs, shingleSize = 3,
          thresholdMicro = 900000L, dfCeiling = Some(100L),
          dfCeilingFraction = Some(0.02)))),
      "bpe_merges" -> (() => fingerprint(
        graft.ops.CorpusOps.bpeMerges(docs, nMerges = 3))),
      "quota_sample" -> (() => fingerprint(
        graft.ops.CorpusOps.quotaSample(docs, quota = 30))),
      // integer-micro fixed point over the ×4 planted Zipf graph (1.6M
      // edges, 90k-degree hub): scores are exact micro integers — an
      // AQE flip cannot move them. (NOT the collocation graph: an
      // absolute df ceiling excludes every common token at ×20 and
      // collapses that graph to ~1 edge — a vacuous pin.)
      "pagerank_planted" -> (() => fingerprint(graft.ops.Graph.pageRank(
        spark.read.parquet(
          ScaleData.materializeGraph(spark, 50000L, 8, 4, cpus)),
        iters = 3))),
      // round-14: the rest of the planted-graph family — all-integer
      // (BFS min-depths, peel survivors, triangle counts), so the
      // fingerprints are engine-deterministic; tools/graph_oracle.py
      // replays all four in DuckDB (mode="oracle" beside these pins)
      "bfs_planted" -> (() => fingerprint(graft.ops.Graph.bfsDepths(
        spark.read.parquet(
          ScaleData.materializeGraph(spark, 50000L, 8, 4, cpus)),
        spark.range(1L, 2L).toDF("node"), maxDepth = 3))),
      "kcore_planted" -> (() => fingerprint(graft.ops.Graph.kCorePeel(
        spark.read.parquet(
          ScaleData.materializeGraph(spark, 50000L, 8, 4, cpus)),
        k = 8, rounds = 3))),
      "triangles_planted" -> (() => fingerprint(graft.ops.Graph.triangleCount(
        spark.read.parquet(
          ScaleData.materializeGraph(spark, 50000L, 8, 4, cpus))))),
      // ---- x10 events ----------------------------------------------
      "kaplan_meier" -> (() => fingerprint(
        graft.ops.Stats.kaplanMeier(subj, "dur", "ev"))),
      "msprt" -> (() => fingerprint(
        graft.ops.Stats.msprt(grp, "ts", "grp", "value"))),
      "poisson_bootstrap" -> (() => fingerprint(
        graft.ops.Stats.poissonBootstrap(purch, "event_id", "value", 200))),
      "mann_whitney" -> (() => fingerprint(graft.ops.Stats.mannWhitney(
        ev.where(col("event_type").isin("click", "purchase")),
        "event_type", "value"))),
      // the integral-outcome DECIMAL path past the float-exact 2^53
      // boundary is exactly what this rung exists to catch
      "ipw_ate" -> (() => fingerprint(graft.ops.Stats.ipwAte(
        strat.join(broadcast(eTab), "_s"), "_t", "_ym", "_e", 10000L))),
      "qte" -> (() => fingerprint(graft.ops.Stats.quantileTreatmentEffect(
        grp, "grp", "value", Seq(25, 50, 75, 90)))),
      // round-12 estimator family at scale: the BigInt kernels (kw_h)
      // and doubled-midrank ladders whose interiors grow ~N⁴
      "anderson_darling" -> (() => fingerprint(
        graft.ops.Stats.andersonDarling(
          ev.where(col("event_type").isin("click", "purchase")),
          "event_type", "value"))),
      "kruskal_wallis" -> (() => fingerprint(
        graft.ops.Stats.kruskalWallis(ev, "event_type", "value"))),
      "cohens_d" -> (() => fingerprint(
        graft.ops.Stats.cohensD(grp, "grp", "value"))),
      "perm_test" -> (() => fingerprint({
        val day = expr("CAST(floor(CAST(unix_micros(ts) AS DOUBLE) " +
          "/ 1000000.0) AS BIGINT) div 86400")
        val vm = floor(col("value").cast("double") * lit(1000000.0d))
          .cast("long")
        val perUser = ev.where(col("value").isNotNull)
          .select(col("user_id"), day.as("_day"), vm.as("_vm"))
          .groupBy(col("user_id"))
          .agg(sum(when(col("_day") % 2 === 0, col("_vm")).otherwise(0L))
            .as("_a"),
            sum(when(col("_day") % 2 =!= 0, col("_vm")).otherwise(0L))
              .as("_b"))
        graft.ops.Stats.pairedPermutationTest(
          perUser, "user_id", "_a", "_b", 200)
      })),
      // round-13 additions: the remaining ladder family at ×10 —
      // duration-bounded hazard/CIF ladders, the blocked-rank T1, and
      // the BY harmonic-ceiling FDR ladder
      "nelson_aalen" -> (() => fingerprint(
        graft.ops.Stats.nelsonAalen(subj, "dur", "ev"))),
      "competing_risks" -> (() => fingerprint(
        graft.ops.Stats.competingRisks(
          subj.select(col("dur"),
            when(col("ev") === 1, (col("user_id") % 3 + 1).cast("int"))
              .otherwise(0).as("cev")),
          "dur", "cev"))),
      "friedman" -> (() => fingerprint({
        val cnt = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("_c"))
        val dense = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
          .join(cnt, Seq("user_id", "event_type"), "left")
          .withColumn("_c", coalesce(col("_c"), lit(0L)))
        graft.ops.Stats.friedman(dense, "user_id", "event_type", "_c")
      })),
      "by_fdr" -> (() => fingerprint({
        val tests = ev
          .select(col("event_type"), (col("user_id") % 16).as("_b"))
          .distinct()
          .select(concat(col("event_type"), lit("_"),
            col("_b").cast("string")).as("test_id"),
            (col("_b") % 2 === 0).as("_sig"))
          .withColumn("_h", expr(
            "CAST(conv(substring(md5(test_id), 1, 8), 16, 10) AS BIGINT)" +
              " % 1000001"))
          .select(col("test_id"),
            when(col("_sig"), expr("_h * _h div 1000000"))
              .otherwise(col("_h")).as("p_micro"))
        graft.ops.Stats.bhFdr(tests, "test_id", "p_micro", 50000L,
          dependence = true)
      })),
      // round-13 URL family at ×20 docs: id-derived messy spellings →
      // canonical keep-best; the div-3 grouping interacts with the
      // id-offset replicas, so the dup structure is genuinely
      // scale-dependent (a cap/overflow would move survivors here)
      "url_dedup" -> (() => fingerprint({
        val g = expr("doc_id div 3")
        val u = when(col("doc_id") % 3 === 0,
            concat(lit("https://DUP.example:443/g/./"), g,
              lit("?utm_campaign=x")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("https://dup.EXAMPLE/g/"), g, lit("#top")))
          .otherwise(concat(lit("https://dup.example/g/"), g))
        graft.ops.UrlOps.urlDedup(
          docs.select(col("doc_id"), octet_length(col("text")).as("_len"),
            u.as("url")),
          "url", "doc_id", "_len")
      })),
      "domain_stats" -> (() => fingerprint(
        graft.ops.UrlOps.domainStats(
          docs.select(concat(lit("http://H"), col("doc_id") % 10,
            lit(".NET/p/"), expr("doc_id div 20")).as("url")),
          "url"))),
      // ---- x20 embeddings ------------------------------------------
      // recall vs exact top-3 as (hits, total): index quality at scale
      "ann_ivfpq_hits" -> (() => {
        val q = emb.where(col("vec_id") < 50)
        val approx = ScaledOps.ivfPqPipeline(emb, k = 3)
        val exact = graft.ops.Ann.bruteTopK(q, emb, "vec_id", "embedding", k = 3)
        val hits = approx.join(exact.select("qid", "nid"),
          Seq("qid", "nid"), "left_semi").count()
        (exact.count(), hits)
      }))

    val results = checks.map { case (name, f) =>
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      val t0 = System.nanoTime()
      val out = try {
        val (n, h) = f()
        (n, h, null: String)
      } catch {
        case NonFatal(e) => (-1L, 0L, String.valueOf(e.getMessage).take(200))
      }
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[scaled-check] $name%-20s rows=${out._1}%-9d hash=${out._2}%-21d ${sec}%6.1f s" +
        (if (out._3 != null) s"  ERR ${out._3}" else ""))
      (name, out._1, out._2, out._3, sec)
    }

    // pins: one `name rows hash` line each
    val pinFile = new java.io.File(pinPath)
    val pins: Map[String, (Long, Long)] =
      if (!pinFile.exists()) Map.empty
      else {
        val src = scala.io.Source.fromFile(pinFile)
        try src.getLines().filter(_.trim.nonEmpty).map { l =>
          val p = l.trim.split("\\s+")
          p(0) -> (p(1).toLong, p(2).toLong)
        }.toMap finally src.close()
      }

    // bootstrap when no pin file; APPEND pins for checks added after
    // the original bootstrap (a new check without a pin would otherwise
    // pass vacuously forever)
    val missing = results.filter { case (n, _, _, err, _) =>
      err == null && !pins.contains(n)
    }
    if (pins.isEmpty || missing.nonEmpty) {
      val w = new java.io.PrintWriter(
        new java.io.FileWriter(pinFile, pins.nonEmpty)) // append if pins exist
      try (if (pins.isEmpty) results.filter(_._4 == null) else missing)
        .foreach { case (n, r, h, _, _) => w.println(s"$n $r $h") }
      finally w.close()
      println(s"[scaled-check] pinned ${if (pins.isEmpty) results.count(_._4 == null) else missing.length} " +
        s"new fingerprints -> $pinPath (commit it)")
    }

    val rows = results.map { case (n, r, h, err, sec) =>
      val pin = pins.get(n)
      val ok = err == null && pin.forall(p => p._1 == r && p._2 == h)
      val pinJson = pin.map(p => s""","pin_rows":${p._1},"pin_hash":${p._2}""").getOrElse("")
      val errJson = if (err == null) "" else s""","err":${"\"" + err.replace("\"", "'") + "\""}"""
      s""""$n":{"rows":$r,"hash":$h,"sec":${f"$sec%.1f"},"match":$ok$pinJson$errJson}"""
    }
    val nOk = results.zip(checks).count { case ((n, r, h, err, _), _) =>
      err == null && pins.get(n).forall(p => p._1 == r && p._2 == h)
    }
    val mode = if (pins.isEmpty) "bootstrap" else "compare"
    // splice the oracle-at-scale verdicts back in from the sidecar
    // tools/scaled_oracle.py maintains — a fingerprint re-run must not
    // clobber the independently-verified section. The sidecar is (a)
    // VALIDATED as JSON before splicing (a truncated file must not
    // corrupt the report) and (b) tagged stale when its recorded
    // git_rev differs from HEAD — verdicts recorded against an older
    // build are still shown, but never presented as current.
    val oracleJson = {
      val f = new java.io.File("SCALED_ORACLE.json")
      if (!f.exists()) ""
      else {
        val src = scala.io.Source.fromFile(f)
        val body = try src.mkString.trim finally src.close()
        if (body.isEmpty) ""
        else try {
          val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
          val recRev = Option(tree.get("git_rev")).map(_.asText()).getOrElse("")
          val headRev = try {
            val head = java.nio.file.Files.readString(
              java.nio.file.Paths.get(".git/HEAD")).trim
            if (head.startsWith("ref: ")) {
              val refPath = java.nio.file.Paths.get(".git/" + head.drop(5))
              if (java.nio.file.Files.exists(refPath))
                java.nio.file.Files.readString(refPath).trim
              else "" // fresh ref only in packed-refs: treat as unknown
            } else head
          } catch { case NonFatal(_) => "" }
          val stale = recRev.isEmpty || headRev.isEmpty || recRev != headRev
          s""","oracle_stale":$stale,"oracle":$body"""
        } catch {
          case NonFatal(e) =>
            System.err.println(
              s"[scaled-check] SCALED_ORACLE.json unparseable, skipping splice: ${e.getMessage}")
            ""
        }
      }
    }
    val json = s"""{"mode":"$mode","docs_x":20,"events_x":10,"emb_x":20,"sf":"$sfDir","n_ok":$nOk,"n_checks":${results.length},"checks":{${rows.mkString(",")}}$oracleJson}"""
    val w2 = new java.io.PrintWriter("SCALED_CORRECTNESS.json", "UTF-8")
    try w2.println(json) finally w2.close()
    println(s"[scaled-check] $nOk/${results.length} ok ($mode) -> SCALED_CORRECTNESS.json")
    spark.stop()
    if (nOk != results.length) sys.exit(2)
  }
}
