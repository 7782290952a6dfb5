package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Measure, Tables}
import graft.engine.Measure.{sink, Timing}
import graft.ops.{AsofJoin, CorpusOps, Dedup, Ffill, TextAnalysis}
import graft.streaming.EventsStream
import scala.util.control.NonFatal

/** Scaling study: times the headline operators at 1×/4×/20× the sf0.1
  * corpus (and 1×/10× events) to measure how wall time grows with rows —
  * the local stand-in for "would this hold at 100 TB?". Scaled copies
  * are built by unioning id-offset replicas with ~15 unique suffix
  * tokens per copy so replicas are NOT near-dups of each other (keeps
  * the dedup candidate volume realistic instead of k-clique worst-case).
  * `runMain graft.tools.ScaleStudy [sfDir]` — prints one line per
  * (op, scale) with rows and seconds.
  */
/** Scaled-corpus builders shared by [[ScaleStudy]] and `graft.Bench`'s
  * scaled tier: id-offset replicas of the sf tables, materialized to
  * parquet (keyed by sf dir name + scale) so measured ops read from
  * storage like a real job. */
object ScaleData {

  def scaledDocs(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base.select(col("doc_id"), col("text"), col("lang"), col("source"))
      else {
        // 15 copy-unique suffix tokens push word-3-shingle Jaccard vs the
        // original well below the 0.8 near-dup threshold
        val suffix = concat_ws(" ", (0 until 15).map(j =>
          concat(lit(s"zq${i}x${j}y"), col("doc_id"))): _*)
        base.select(
          (col("doc_id") + i * 10000000L).as("doc_id"),
          concat(col("text"), lit(" "), suffix).as("text"),
          col("lang"), col("source"))
      }
    }.reduce(_ union _)

  def scaledEmbeddings(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base.select(col("vec_id"), col("embedding"))
      else base.select((col("vec_id") + i * 10000000L).as("vec_id"), col("embedding"))
    }.reduce(_ union _)

  def scaledEvents(base: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      if (i == 0) base
      else base
        .withColumn("event_id", col("event_id") + i * 100000000L)
        .withColumn("user_id", col("user_id") + i * 1000000L)
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${i * 40} DAYS"))
    }.reduce(_ union _)

  /** Deterministic Zipf-attachment synthetic graph — the graph rung's
    * size-parameterized input. Node `i` emits `avgDeg` directed edges
    * whose targets follow P(t) ∝ 1/t via inverse-CDF over a hash
    * uniform (t = ⌊exp(u·ln n)⌋, u = xxhash64(src, r, seed) mapped to
    * (0,1)), so node 1 is a PLANTED MEGA-HUB holding ≈ E/ln(n) of all
    * edge endpoints — the power-law skew that makes naive wedge joins
    * quadratic and that the degree-ordered orientation / statically
    * unrolled fixed-point designs claim to survive. Fully in-plan and
    * seed-deterministic (hash, not RNG): the ×k graph is the same
    * graph every run, and scaling n scales every hub proportionally. */
  def plantedGraph(spark: SparkSession, n: Long, avgDeg: Int, seed: Long): DataFrame = {
    require(n >= 2 && avgDeg >= 1)
    spark.range(1L, n + 1L).toDF("src")
      .select(col("src"), explode(expr(s"sequence(1, $avgDeg)")).as("_r"))
      .withColumn("_u",
        (pmod(xxhash64(col("src"), col("_r"), lit(seed)), lit(1000000000L))
          .cast("double") + 0.5) / 1e9)
      .withColumn("dst", floor(exp(col("_u") * log(lit(n.toDouble)))).cast("long"))
      .where(col("dst") =!= col("src"))
      .select("src", "dst")
  }

  /** Materialize the ×k planted graph under /tmp (idempotent; same
    * `_SUCCESS`-marker contract as [[materialize]]). */
  def materializeGraph(
      spark: SparkSession, n: Long, avgDeg: Int, k: Int, parts: Int): String = {
    val path = s"/tmp/graft_scale/graph_n${n * k}_d$avgDeg"
    if (!new java.io.File(path, "_SUCCESS").exists())
      plantedGraph(spark, n * k, avgDeg, seed = 42L)
        .repartition(parts).write.mode("overwrite").parquet(path)
    path
  }

  /** Materialize the ×k table under /tmp (idempotent per sf+scale);
    * returns the parquet path. A bare directory is NOT proof of a
    * complete write (a run killed mid-write leaves partial parquet that
    * every later bench would silently read) — only the `_SUCCESS` marker
    * is; anything without it is rewritten. */
  def materialize(
      spark: SparkSession, sfDir: String, table: String, k: Int,
      parts: Int): String = {
    val sfName = new java.io.File(sfDir).getName
    val path = s"/tmp/graft_scale/${sfName}_${table}_x$k"
    if (!new java.io.File(path, "_SUCCESS").exists()) {
      val base = Tables(spark, sfDir, table)
      val scaled = table match {
        case "documents"  => scaledDocs(base, k)
        case "embeddings" => scaledEmbeddings(base, k)
        case _            => scaledEvents(base, k)
      }
      scaled.repartition(parts).write.mode("overwrite").parquet(path)
    }
    path
  }
}

/** The headline data-shaped operators against the materialized ×k
  * tables — `graft.Bench`'s scaled tier. Each op is timed by
  * [[graft.engine.Measure.measure]] over SPARK_GRAFT_BENCH_SCALE_ITERS
  * (default 3) runs and no warm-up, so the MEDIAN is the headline: the
  * first execution of a plan pays codegen compilation + C2 JIT of the
  * generated classes, which a 100 TB job amortizes over hours — a
  * single-shot number conflates that fixed cost with the data-shaped
  * cost this tier exists to measure (round-6 single shots showed ops at
  * 5-10× their steady state). The MIN and the `varied` tag let a
  * reader adjudicate a suspect median: the ×20 `containment` op
  * measured 11.6–171.6 s across four identically-fingerprinted runs
  * while its reap left dead `InMemoryRelation`s behind. */
object ScaledOps {

  /** Key of the ANN recall scorecard in Bench's `scores` map and the
    * op filter. */
  val RecallKey = "ann_ivfpq_recall_pct"

  /** One scaled-tier run: the scale factors, one timing per op, and
    * the ANN recall percentage (a score, not a timing; -1 if it
    * failed, None when the op filter left it out). */
  final case class Tier(docsX: Int, eventsX: Int, ops: Seq[Timing],
      recallPct: Option[Double])

  /** Materialize the ×SCALE docs and embeddings and ×(SCALE/2) events
    * (SPARK_GRAFT_BENCH_SCALE, default 20) and time every op whose name
    * contains one of `only`'s substrings (all when None). None when
    * SCALE ≤ 1, which disables the tier. */
  def run(
      spark: SparkSession,
      sfDir: String,
      cpus: Int,
      only: Option[Seq[String]] = None): Option[Tier] = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE", "20").toInt
    if (scale <= 1) return None
    val evScale = math.max(scale / 2, 1)
    val docsPath = ScaleData.materialize(spark, sfDir, "documents", scale, cpus)
    val eventsPath = ScaleData.materialize(spark, sfDir, "events", evScale, cpus)
    val embPath = ScaleData.materialize(spark, sfDir, "embeddings", scale, cpus)
    val iters = sys.env.getOrElse("SPARK_GRAFT_BENCH_SCALE_ITERS", "3").toInt
    // entries are measured EAGERLY while the Seq below is constructed,
    // so the ScaledTier dev-loop filter must apply here, not on the result
    def selected(name: String): Boolean = only.forall(_.exists(name.contains))
    def time(name: String)(build: => DataFrame): Option[Timing] =
      if (selected(name)) Some(Measure.measure(spark, name, iters, warmup = 0)(build))
      else None
    val docs = spark.read.parquet(docsPath)
    val ev = spark.read.parquet(eventsPath)
    // the ×1 planted Zipf graph (50k nodes, avg out-degree 8, hub ≈ 26k
    // endpoints) is materialized before timing too, but only when a
    // graph op is selected
    val edges =
      if (Seq("pagerank", "triangles", "link_prediction", "kcore").exists(selected))
        Some(spark.read.parquet(ScaleData.materializeGraph(
          spark, 50000L, 8, 1, spark.sparkContext.defaultParallelism)))
      else None
    def pairs = Dedup.nearDupSizesShingled(
        Dedup.withWordShingles(docs.select("doc_id", "text"), "doc_id", "text", 3),
        "doc_id", numHashes = 64, bands = 16, sizeRatioPrefilter = Some((4, 5)))
      .where(col("i_size") * 5 >= col("u_size") * 4)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.where(col("event_type") === "click")
      .groupBy("user_id", "ts").agg(max("value").as("click_value"))
    val ops = Seq(
      time("neardup_pairs") { pairs },
      time("dedup_clusters") { Dedup.dedupClusters(pairs.select("a", "b")) },
      time("pack_sequences") { graft.ops.Packing.packSequences(
        docs.select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens")),
        "doc_id", "n_tokens", 2048, 128) },
      time("text_profile") { TextAnalysis.profile(docs) },
      time("quota_sample") { CorpusOps.quotaSample(docs, quota = 30) },
      time("ffill_blocked") { Ffill.ffillBlocked(
        ev.withColumn("_src", nullif(col("event_type"), lit("noop"))),
        "event_id", Seq("_src"), blockSize = 4096) },
      time("sessionize") { EventsStream.sessionize(ev) },
      time("daily_retention") { EventsStream.dailyRetention(ev) },
      time("funnel") { EventsStream.funnel(ev) },
      time("asof_join") { AsofJoin.asofJoin(purchases, clicks,
        Seq("user_id"), "ts", Seq("click_value")) },
      time("bm25") { CorpusOps.bm25TopK(docs, "hash join spark", 20) },
      time("json_outliers") { graft.ops.EventsOps.valueOutliers(
        graft.ops.EventsOps.parseProps(ev)
          .withColumn("value", col("prop_k").cast("double"))) },
      time("chunk_tokens") { CorpusOps.chunkTokens(docs, 64, 48) },
      time("rolling_stats") { graft.ops.EventsOps.rollingStats(ev, frame = 5) },
      time("rolling_range") { graft.ops.EventsOps.rollingRange(ev, windowSeconds = 3600L) },
      time("repeated_spans") { Dedup.repeatedSpans(docs, n = 20) },
      time("tfidf_keywords") { CorpusOps.tfidfKeywords(docs, k = 5) },
      time("bigram_surprisal") { CorpusOps.bigramSurprisal(docs) },
      time("topk_per_group") { CorpusOps.topKPerGroup(
        docs.withColumn("n_chars", length(col("text"))),
        Seq("lang", "source"), "n_chars", k = 3) },
      time("kmeans") { graft.ops.Clustering.kmeans(
        spark.read.parquet(embPath), "vec_id", "embedding", k = 8, iters = 2) },
      time("pca_top1") { graft.ops.Pca.pcaTop1(
        spark.read.parquet(embPath), "vec_id", "embedding") },
      time("interpolate") { graft.ops.EventsOps.interpolateLinear(
        ev.withColumn("value", when(pmod(col("event_id"), lit(5)) === 0,
          lit(null).cast("double")).otherwise(col("value")))) },
      time("zorder") { graft.ops.Layout.zOrderKey(
        docs.withColumn("n_chars", length(col("text"))), "doc_id", "n_chars", "doc_id") },
      time("textrank") { CorpusOps.textrankKeywords(docs, k = 3, iters = 2) },
      time("bloom_decontam") { CorpusOps.bloomDecontam(docs,
        docs.limit(2000).select(col("doc_id").as("qid"), col("text")), Seq("qid")) },
      time("bpe_merges") { CorpusOps.bpeMerges(docs, nMerges = 3) },
      time("apply_span_cuts") { Dedup.applySpanCuts(docs,
        Dedup.repeatedSpans(docs, n = 20)) },
      time("continuation") { Dedup.continuationPairs(docs, n = 10) },
      time("epoch_shuffle") { CorpusOps.epochShuffle(docs, epoch = 1, nShards = 16) },
      // round-9 stats wave at scale: the three corpus-sized shapes
      // (key window + broadcast moments; users-bounded ntile ladder;
      // partial-agg + key window) — the grid/bounded ops (MASE,
      // cross-corr, Benford, profile) are calendar-/key-sized and
      // can't regress with row count
      time("acf") { graft.ops.EventsOps.acfByKey(ev, maxLag = 3) },
      time("lorenz") { graft.ops.EventsOps.lorenzDeciles(ev) },
      time("type_entropy") { graft.ops.EventsOps.typeEntropy(ev) },
      // p175-p181 wave, corpus-sized members: TWAP's lead+fold on one
      // key exchange, OHLC's partial-agg'd struct min/max, the full
      // per-user ranking ladder, and the curriculum schedule (its slim
      // single-partition ntile is the watched risk — see Scaladoc)
      time("twap") { graft.ops.EventsOps.twap(ev) },
      time("ohlc") { graft.ops.EventsOps.ohlcBars(ev) },
      time("rank_suite") { graft.ops.Stats.rankReport(
        ev, "event_type", "value", "event_id", nTiles = 4) },
      time("curriculum") { CorpusOps.curriculumOrder(docs) },
      // p183-p194 wave, corpus-sized members: journey credit windows,
      // the weighted-median ladder, the map-only Gopher scan, the
      // struct-max survivorship fold, and the SLA rank ladder
      time("position_attr") { graft.ops.EventsOps.positionAttribution(ev) },
      time("weighted_median") { graft.ops.EventsOps.weightedMedian(
        graft.ops.EventsOps.parseProps(ev).withColumn("weight", col("prop_k"))) },
      time("gopher_rules") { TextAnalysis.gopherRules(docs) },
      time("golden_record") { graft.ops.SnapshotDiff.goldenRecord(
        graft.ops.EventsOps.parseProps(ev)
          .withColumn("value_micro",
            when(pmod(col("event_id"), lit(3)) === 0, lit(null).cast("long"))
              .otherwise(floor(col("value").cast("double") * lit(1000000.0d))
                .cast("long"))),
        "user_id", "ts", "event_id", Seq("value_micro", "prop_k")) },
      time("sla_percentiles") { graft.ops.EventsOps.slaPercentiles(ev) },
      // p195+ wave corpus-sized members
      time("max_drawdown") { graft.ops.EventsOps.maxDrawdown(ev) },
      time("vocab_growth") { CorpusOps.vocabGrowth(docs) },
      time("hashing_vectorizer") { CorpusOps.hashingVectorizer(docs) },
      time("gopher_plus_ccnet") { CorpusOps.ccnetBuckets(docs) },
      // billion-scale ANN headline at ×k: full train+search pipeline
      // (IVF coarse cells + PQ codebooks + ADC scan + exact refine),
      // the p79 gate's exact shape at scaled row count
      // the 100 TB path: stop-gram ceiling engaged as a RELATIVE df
      // fraction (grams in > 2% of docs are boilerplate). An absolute
      // ceiling stops binding as the corpus grows — df of boilerplate
      // grams grows with N, so a fixed cap lets candidate volume go
      // quadratic; the relative cap excludes the same gram set at
      // every scale (measured: ScaleStudy's x50 rung).
      time("containment") { Dedup.containmentPairs(docs,
        shingleSize = 3, thresholdMicro = 900000L,
        dfCeiling = Some(100L), dfCeilingFraction = Some(0.02)) },
      time("ann_ivfpq") { ivfPqPipeline(spark.read.parquet(embPath), k = 3) },
      // iterative graph tier over the PLANTED Zipf-attachment graph
      // (50k nodes, ~400k edges, hub ≈ 26k — materialized parquet, so
      // the timing is the graph algorithm, not input derivation).
      // Rounds 8-12 ran these on the scaled CORPUS's token collocation
      // graph — but the synthetic corpus's vocabulary saturates, so at
      // ×20 that graph is ~500 edges regardless of the df ceiling: the
      // entries were measuring tokenization + per-round plan overhead
      // on a toy graph. The planted graph is the same input family as
      // SCALING.md's measured ×1/×4/×20/×50 rung.
      time("pagerank") { graft.ops.Graph.pageRank(edges.get, iters = 3) },
      time("triangles") { graft.ops.Graph.triangleCount(edges.get) },
      // degCap engaged: the planted 26k-endpoint hub makes UNCAPPED
      // wedge candidates ~deg² ≈ 7·10⁸ per iteration — the degCap
      // valve (drop hub CENTERS before the self-join; "everyone's
      // neighbor" carries no link signal) is the documented at-scale
      // posture, and this entry measures it engaged
      time("link_prediction") { graft.ops.Graph.linkPrediction(
        edges.get, topK = 50, degCap = Some(256L)) },
      time("kcore") { graft.ops.Graph.kCorePeel(edges.get, k = 8, rounds = 3) },
      time("growth_accounting") { graft.ops.EventsOps.growthAccounting(ev) },
      // round-10 additions at scale: the banded matching join (hot-block
      // watch) and the L-scaled agreement fold (pure partial aggs)
      time("nn_match") { graft.ops.Stats.nnMatchAtt(
        ev.groupBy(col("user_id"))
          .agg(sum(floor(col("value").cast("double") * lit(1000000.0d)).cast("long")).as("_sv"),
            count(lit(1)).as("_nn"),
            sum(when(col("event_type") === "purchase",
              floor(col("value").cast("double") * lit(1000000.0d)).cast("long"))
              .otherwise(0L)).as("y_micro"))
          .selectExpr("user_id",
            "CAST(CASE WHEN _sv >= 0 THEN 1 ELSE -1 END AS BIGINT) * " +
              "CAST(abs(_sv) div _nn AS BIGINT) AS score_micro",
            "y_micro", "user_id % 2 = 0 AS treated"),
        "user_id", "treated", "score_micro", "y_micro", caliperMicro = 500000L) },
      time("krippendorff") { graft.ops.Governance.krippendorffAlpha(
        ev.select(expr("event_id div 16").as("unit"), col("event_type")),
        "unit", "event_type") },
      // round-11 additions at scale: both collapse the corpus to a
      // bounded table in one partial agg (distinct values / contingency
      // cells) before any window or kernel runs
      time("mann_whitney") { graft.ops.Stats.mannWhitney(
        ev.where(col("event_type").isin("click", "purchase")),
        "event_type", "value") },
      time("adjusted_rand") { graft.ops.Governance.adjustedRand(
        docs, "lang", "source") },
      // per-user O(g²) under constant group size — the scaled tier
      // checks the pair stage stays linear in #users
      time("theil_sen") { graft.ops.EventsOps.theilSenTrend(ev) },
      // round-14 URL/crawl family at ×20 docs: the keep-best partial
      // agg, the wildcard-rule fold behind the size-adaptive dim join,
      // and the per-host politeness window — the three shapes a crawl
      // front door runs on every record
      time("url_dedup") { graft.ops.UrlOps.urlDedup(
        docs.select(col("doc_id"),
          octet_length(col("text")).as("_len"),
          concat(lit("https://DUP.example:443/g/./"), expr("doc_id div 3"),
            lit("?utm_campaign=x")).as("url")),
        "url", "doc_id", "_len") },
      time("robots_filter") {
        val body = "User-agent: *\nDisallow: /*.php$\n" +
          "Allow: /files/*.php$\nDisallow: /tmp*\n"
        val robots = docs.select((col("doc_id") % 64).as("_h")).distinct()
          .select(concat(lit("w"), col("_h"), lit(".example")).as("host"),
            lit(body).as("body"))
        val urls = docs.select(col("doc_id"),
          concat(lit("http://w"), col("doc_id") % 64, lit(".example/files/f"),
            col("doc_id"), lit(".php")).as("url"))
        // 64-host dim, statically known small: the hint skips the
        // size probe that would otherwise re-execute the rules lineage
        graft.ops.UrlOps.robotsAllowed(urls,
          graft.ops.UrlOps.robotsRules(robots), "graftbot",
          smallDim = Some(true))
      },
      time("politeness_schedule") { graft.ops.UrlOps.politenessSchedule(
        docs.select(col("doc_id"),
          concat(lit("http://cd"), col("doc_id") % 64, lit(".example/p/"),
            col("doc_id")).as("url")),
        spark.range(0, 64).select(concat(lit("cd"), col("id"),
          lit(".example")).as("host"), lit("*").as("agent"),
          (col("id") % 5 * 100 + 100).as("delay_ms")),
        "graftbot", smallDim = Some(true)) },
      // round-15 link family at ×20 docs: the map+generate extraction
      // kernel (regexp normalize + RFC 3986 resolve + canonicalize per
      // anchor), the frontier's agg + anti-join + bounded host window,
      // and the host-graph + 3-pass PageRank composition
      time("link_extract") { graft.ops.LinkOps.extractLinks(
        docs.select(col("doc_id"),
          concat(lit("http://w"), col("doc_id") % 64, lit(".example/p/"),
            col("doc_id"), lit("/index.html")).as("url"),
          concat(lit("<html><head><base href=\"/base"), col("doc_id") % 4,
            lit("/\"></head><body><a href=\"rel"), col("doc_id"),
            lit(".html\">x</a><A HREF='/top/"), col("doc_id"),
            lit("'>y</A><a href=bare"), col("doc_id"),
            lit(">z</a><a href=\"https://e"), col("doc_id") % 6,
            lit(".example/p?utm_source=z&amp;id="), col("doc_id"),
            lit("\">e</a><a href=\"#s\">f</a></body></html>")).as("html"))) },
      time("crawl_frontier") { graft.ops.LinkOps.frontierDiscover(
        docs.select(
          concat(lit("http://src.example/p/"), col("doc_id")).as("url"),
          concat(lit("http://f"), expr("(doc_id div 2) % 64"),
            lit(".example/page/"), expr("doc_id div 2")).as("dst_url")),
        docs.where(expr("(doc_id div 2) % 5 = 0")).select(
          concat(lit("http://f"), expr("(doc_id div 2) % 64"),
            lit(".example/page/"), expr("doc_id div 2")).as("url")),
        maxPerHost = 1000, smallCrawled = Some(false)) },
      time("host_authority") { graft.ops.Graph.pageRank(
        graft.ops.LinkOps.hostLinkGraph(docs.select(
          concat(lit("http://g"), col("doc_id") % 64, lit(".example/p/"),
            col("doc_id")).as("url"),
          concat(lit("http://g"), col("doc_id") % 97 % 64, lit(".example/q/"),
            col("doc_id") % 13).as("dst_url"))),
        iters = 3, srcCol = "src_host", dstCol = "dst_host") },
      // round-16 raster-decode family at ×20 docs (100k rows): each op
      // ENCODES a real compressed image per row (Deflater / T.81
      // entropy stream / LZW) then decodes it through the dhash64
      // dispatch — an end-to-end cost ceiling for the decode kernels
      // (a real crawl pays only the decode half)
      time("png_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.pngPixelsFromIds(docs, "doc_id"), "bytes") },
      time("jpeg_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.jpegDcFromIds(docs, "doc_id"), "bytes") },
      time("gif_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.gifPixelsFromIds(docs, "doc_id"), "bytes") },
      // round-17 decoder rungs: progressive JPEG (multi-scan walk +
      // DC refinement), EXIF-oriented hash (APP1 parse + display-space
      // sampling), WebP VP8L (prefix codes + transforms), Adam7 PNG
      // (7-pass streaming decode) — each encode+decode per row
      time("progressive_jpeg_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.jpegProgressiveFromIds(docs, "doc_id"), "bytes") },
      time("oriented_dhash") { graft.ops.Multimodal.imageDHashOrientedScan(
        graft.ops.Multimodal.jpegOrientedFromIds(docs, "doc_id"), "bytes") },
      time("webp_vp8l_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.webpVp8lFromIds(docs, "doc_id"), "bytes") },
      time("adam7_png_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.pngPixelsFromIds(docs, "doc_id",
          interlaced = true), "bytes") },
      // round-17 multimodal rungs: TIFF (random-access strip reads —
      // the cheapest decode by construction), audio fingerprint
      // (WAV encode + 32-window energy fold per row), video frames
      // (animated-GIF encode + multi-frame LZW decode + compositing)
      time("tiff_dhash") { graft.ops.Multimodal.imageDHashScan(
        graft.ops.Multimodal.tiffPixelsFromIds(docs, "doc_id"), "bytes") },
      time("audio_fingerprint") { graft.ops.Multimodal.audioFingerprintScan(
        graft.ops.Multimodal.wavEncodedFromIds(docs, "doc_id", 0), "bytes") },
      time("video_frame_hashes") { graft.ops.Multimodal.videoFrameSample(
        graft.ops.Multimodal.gifAnimFromIds(docs, "doc_id"), "bytes") },
      time("webp_anim_frames") { graft.ops.Multimodal.videoFrameSample(
        graft.ops.Multimodal.webpAnimMultiFromIds(docs, "doc_id"), "bytes") },
      time("subtitle_cues") { graft.ops.Multimodal.subtitleCueScan(
        graft.ops.Multimodal.subtitlesFromIds(docs, "doc_id"), "text") }).flatten
    val recall =
      if (selected(RecallKey)) Some(annIvfPqRecall(spark.read.parquet(embPath))) else None
    Some(Tier(scale, evScale, ops, recall))
  }

  private[tools] def ivfPqPipeline(emb: DataFrame, k: Int): DataFrame = {
    val q = emb.where(col("vec_id") < 50)
    val ivfM = graft.ops.Ivf.train(emb, "vec_id", "embedding", k = 16)
    val pqM = graft.ops.Pq.train(emb, "vec_id", "embedding", m = 8, k = 256)
    graft.ops.Pq.ivfPqTopK(q, emb, "vec_id", "embedding", ivfM, pqM,
      k = k, nProbe = 12, refine = 32)
  }

  /** Recall scorecard at scale — NOT a timing: percentage of the exact brute-force
    * top-3 the IVF-PQ path recovers over 50 queries at the ×k corpus.
    * The ×k replicas duplicate vectors verbatim, so exact top-3 is
    * dominated by cosine-1.0 twins — an index that loses those is
    * broken, which is exactly what this entry watches for. */
  private[tools] def annIvfPqRecall(emb: DataFrame): Double =
    try {
      val q = emb.where(col("vec_id") < 50)
      val approx = ivfPqPipeline(emb, k = 3)
      val exact = graft.ops.Ann.bruteTopK(q, emb, "vec_id", "embedding", k = 3)
      val total = exact.count()
      val hits = approx.join(exact.select("qid", "nid"), Seq("qid", "nid"), "left_semi").count()
      if (total == 0) -1.0 else hits * 100.0 / total
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[bench-scaled] $RecallKey FAILED: ${e.getMessage}")
        -1.0
    }
}

object ScaleStudy {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // optional section filter: docs | events | headliners | graph
    val section = args.drop(1).headOption.getOrElse("all")
    def on(s: String) = section == "all" || section == s
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.local(cpus, "graft-scale-study")

    // materialize scaled inputs to parquet so every measured op reads
    // from storage like a real job (not from an in-memory union plan);
    // lazy per-section so a filtered run only materializes what it uses
    lazy val docPaths = Seq(1, 4, 20, 50).map(k =>
      k -> ScaleData.materialize(spark, sfDir, "documents", k, cpus)).toMap
    lazy val embPaths = Seq(1, 4, 20, 50).map(k =>
      k -> ScaleData.materialize(spark, sfDir, "embeddings", k, cpus)).toMap
    lazy val eventPaths = Seq(1, 10, 50).map(k =>
      k -> ScaleData.materialize(spark, sfDir, "events", k, cpus)).toMap

    def report(op: String, k: Int, rows: Long, sec: Double): Unit =
      println(f"[scale] $op%-22s x$k%-3d rows=$rows%-9d ${sec}%8.2f s")

    if (on("docs")) for (k <- Seq(1, 4, 20)) {
      val docs = spark.read.parquet(docPaths(k))
      val nDocs = docs.count()

      // near-dup pair generation + integer-threshold verify
      val (nPairs, tPairs) = time {
        Dedup.nearDupSizesShingled(
            Dedup.withWordShingles(docs.select("doc_id", "text"), "doc_id", "text", 3),
            "doc_id", numHashes = 64, bands = 16, sizeRatioPrefilter = Some((4, 5)))
          .where(col("i_size") * 5 >= col("u_size") * 4)
          .count()
      }
      report("neardup_pairs", k, nDocs, tPairs)

      // pairs -> clusters (iterative components)
      val pairs = Dedup.nearDupSizesShingled(
          Dedup.withWordShingles(docs.select("doc_id", "text"), "doc_id", "text", 3),
          "doc_id", numHashes = 64, bands = 16, sizeRatioPrefilter = Some((4, 5)))
        .where(col("i_size") * 5 >= col("u_size") * 4)
        .select("a", "b")
      val (_, tClust) = time(sink(Dedup.dedupClusters(pairs)))
      report(s"dedup_clusters(${nPairs}p)", k, nDocs, tClust)

      val (_, tRep) = time(sink(CorpusOps.repetitionStats(docs)))
      report("repetition_stats", k, nDocs, tRep)

      val (_, tProf) = time(sink(TextAnalysis.profile(docs)))
      report("text_profile", k, nDocs, tProf)

      val (_, tQuota) = time(sink(CorpusOps.quotaSample(docs, quota = 30)))
      report("quota_sample", k, nDocs, tQuota)

      val (_, tSplit) = time(sink(CorpusOps.withSplit(docs)))
      report("content_split", k, nDocs, tSplit)

      val (_, tMix) = time(sink(CorpusOps.mixSources(docs,
        Map("src0" -> 2.5, "src1" -> 0.5))))
      report("mix_sources", k, nDocs, tMix)

      val newSnap = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 17 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      val (_, tDiff) = time(sink(graft.ops.SnapshotDiff.diff(
        docs, newSnap, "doc_id", Seq("text", "lang", "source"))))
      report("snapshot_diff", k, nDocs, tDiff)
    }

    if (on("events")) for (k <- Seq(1, 10)) {
      val ev = spark.read.parquet(eventPaths(k))
        .withColumn("ts", to_timestamp(col("ts")))
      val nEv = ev.count()

      val purchases = ev.where(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "value")
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max("value").as("click_value"))
      val (_, tAsof) = time(sink(AsofJoin.asofJoin(purchases, clicks,
        Seq("user_id"), "ts", Seq("click_value"))))
      report("asof_join", k, nEv, tAsof)

      val withSrc = ev.withColumn("_src", nullif(col("event_type"), lit("noop")))
      val (_, tFfill) = time(sink(
        Ffill.ffillBlocked(withSrc, "event_id", Seq("_src"), blockSize = 4096)))
      report("ffill_blocked", k, nEv, tFfill)

      val (_, tSess) = time(sink(EventsStream.sessionize(ev)))
      report("sessionize", k, nEv, tSess)

      val (_, tRet) = time(sink(EventsStream.dailyRetention(ev)))
      report("daily_retention", k, nEv, tRet)

      val (_, tFun) = time(sink(EventsStream.funnel(ev)))
      report("funnel", k, nEv, tFun)

      val iv = ev.where(col("event_id") % 487 === 0)
        .select(col("event_id").as("iid"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 90 MINUTES")).as("w_end"))
      val (_, tIv) = time(sink(graft.ops.RangeJoin.intervalJoin(
        ev.select("event_id", "ts", "value"), "ts", iv, "w_start", "w_end")))
      report("interval_join", k, nEv, tIv)
    }

    // two more decades for the three 100 TB headliners: a measured
    // x1/x4/x20/x50 growth curve per op (the design arguments rest on
    // these staying near-linear; SCALING.md holds the table)
    if (on("headliners")) for (k <- Seq(1, 4, 20, 50)) {
      val docs = spark.read.parquet(docPaths(k))
      val nDocs = docs.count()
      val (nPairs, tPairs) = time {
        Dedup.nearDupSizesShingled(
            Dedup.withWordShingles(docs.select("doc_id", "text"), "doc_id", "text", 3),
            "doc_id", numHashes = 64, bands = 16, sizeRatioPrefilter = Some((4, 5)))
          .where(col("i_size") * 5 >= col("u_size") * 4)
          .count()
      }
      report(s"hl_neardup_pairs(${nPairs}p)", k, nDocs, tPairs)
      // relative stop-gram ceiling (2% of docs): the at-scale policy —
      // an absolute cap stops binding as boilerplate df grows with N.
      // Now first-class: dfCeilingFraction resolves in-plan, with the
      // absolute value as a small-corpus floor.
      val (_, tCont) = time(sink(Dedup.containmentPairs(docs,
        shingleSize = 3, thresholdMicro = 900000L,
        dfCeiling = Some(100L), dfCeilingFraction = Some(0.02))))
      report("hl_containment", k, nDocs, tCont)
      val emb = spark.read.parquet(embPaths(k))
      val nEmb = emb.count()
      val (_, tAnn) = time(sink(ScaledOps.ivfPqPipeline(emb, k = 3)))
      report("hl_ann_ivfpq", k, nEmb, tAnn)
      val recall = ScaledOps.annIvfPqRecall(emb)
      report(f"hl_ann_recall(${recall}%.1f%%)", k, nEmb, 0.0)
    }

    // graph rung: the iterative family's 100 TB claims (degree-ordered
    // triangle orientation, statically unrolled fixed-point, per-round
    // persist+count peeling) measured on REAL hub skew — a planted
    // Zipf-attachment graph whose top node holds ≈ E/ln(n) endpoints —
    // instead of only the sf0.1 collocation graph's single size point.
    // Node counts scale ×1/×4/×20 at constant avg degree, so edge
    // volume scales linearly while the hub degree scales with it.
    if (on("graph")) for (k <- Seq(1, 4, 20, 50)) {
      val path = ScaleData.materializeGraph(spark, 50000L, 8, k, cpus)
      val edges = spark.read.parquet(path)
      val nE = edges.count()
      val hub = edges.select(explode(array(col("src"), col("dst"))).as("v"))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .agg(max("d")).collect()(0).getLong(0)
      val (_, tPr) = time(sink(graft.ops.Graph.pageRank(edges, iters = 3)))
      report(s"gr_pagerank(hub=$hub)", k, nE, tPr)
      val (_, tTri) = time(sink(graft.ops.Graph.triangleCount(edges)))
      report("gr_triangles", k, nE, tTri)
      val (_, tKc) = time(sink(graft.ops.Graph.kCorePeel(edges, k = 8, rounds = 3)))
      report("gr_kcore", k, nE, tKc)
    }

    // URL/crawl family rung to ×50 (round-15): the three per-record
    // crawl-front-door shapes — keep-best partial agg, wildcard rule
    // fold behind the size-adaptive dim join, per-host politeness
    // window — at the same evidence depth as the dedup/graph
    // headliners. 3 iterations per (op, k): iteration 1 is codegen/JIT
    // warmup (the ×20 study's measured pattern), the min is the
    // data-shaped cost. All three are map-only + one bounded exchange,
    // so the curve should track scan time ~linearly.
    if (on("url")) for (k <- Seq(1, 4, 20, 50)) {
      val docs = spark.read.parquet(docPaths(k))
      val nDocs = docs.count()
      for (it <- 1 to 3) {
        val (_, tU) = time(sink(graft.ops.UrlOps.urlDedup(
          docs.select(col("doc_id"),
            octet_length(col("text")).as("_len"),
            concat(lit("https://DUP.example:443/g/./"), expr("doc_id div 3"),
              lit("?utm_campaign=x")).as("url")),
          "url", "doc_id", "_len")))
        report(s"url_dedup#$it", k, nDocs, tU)
        val (_, tR) = time(sink({
          val body = "User-agent: *\nDisallow: /*.php$\n" +
            "Allow: /files/*.php$\nDisallow: /tmp*\n"
          val robots = docs.select((col("doc_id") % 64).as("_h")).distinct()
            .select(concat(lit("w"), col("_h"), lit(".example")).as("host"),
              lit(body).as("body"))
          val urls = docs.select(col("doc_id"),
            concat(lit("http://w"), col("doc_id") % 64, lit(".example/files/f"),
              col("doc_id"), lit(".php")).as("url"))
          graft.ops.UrlOps.robotsAllowed(urls,
            graft.ops.UrlOps.robotsRules(robots), "graftbot",
            smallDim = Some(true))
        }))
        report(s"robots_filter#$it", k, nDocs, tR)
        val (_, tP) = time(sink(graft.ops.UrlOps.politenessSchedule(
          docs.select(col("doc_id"),
            concat(lit("http://cd"), col("doc_id") % 64, lit(".example/p/"),
              col("doc_id")).as("url")),
          spark.range(0, 64).select(concat(lit("cd"), col("id"),
            lit(".example")).as("host"), lit("*").as("agent"),
            (col("id") % 5 * 100 + 100).as("delay_ms")),
          "graftbot", smallDim = Some(true))))
        report(s"politeness#$it", k, nDocs, tP)
      }
    }

    // round-15 link rung: extraction is map-only regexp + generate
    // (should track scan+regex time linearly), the frontier is one
    // partial agg + SHUFFLE_HASH anti join + a 64-host-bounded window,
    // host_authority is the |hosts|²-bounded aggregate + 3 PageRank
    // passes over a 64-node graph (per-pass plan overhead dominates —
    // expect ~flat). Same 3-iteration JIT discipline as the URL rung.
    if (on("link")) for (k <- Seq(1, 4, 20, 50)) {
      val docs = spark.read.parquet(docPaths(k))
      val nDocs = docs.count()
      val d = col("doc_id")
      for (it <- 1 to 3) {
        val (_, tE) = time(sink(graft.ops.LinkOps.extractLinks(
          docs.select(d.as("doc_id"),
            concat(lit("http://w"), d % 64, lit(".example/p/"), d,
              lit("/index.html")).as("url"),
            concat(lit("<html><head><base href=\"/base"), d % 4,
              lit("/\"></head><body><a href=\"rel"), d,
              lit(".html\">x</a><A HREF='/top/"), d,
              lit("'>y</A><a href=bare"), d,
              lit(">z</a><a href=\"https://e"), d % 6,
              lit(".example/p?utm_source=z&amp;id="), d,
              lit("\">e</a><a href=\"#s\">f</a></body></html>")).as("html")))))
        report(s"link_extract#$it", k, nDocs, tE)
        val (_, tF) = time(sink(graft.ops.LinkOps.frontierDiscover(
          docs.select(
            concat(lit("http://src.example/p/"), d).as("url"),
            concat(lit("http://f"), expr("(doc_id div 2) % 64"),
              lit(".example/page/"), expr("doc_id div 2")).as("dst_url")),
          docs.where(expr("(doc_id div 2) % 5 = 0")).select(
            concat(lit("http://f"), expr("(doc_id div 2) % 64"),
              lit(".example/page/"), expr("doc_id div 2")).as("url")),
          maxPerHost = 1000, smallCrawled = Some(false))))
        report(s"crawl_frontier#$it", k, nDocs, tF)
        val (_, tA) = time(sink(graft.ops.Graph.pageRank(
          graft.ops.LinkOps.hostLinkGraph(docs.select(
            concat(lit("http://g"), d % 64, lit(".example/p/"), d).as("url"),
            concat(lit("http://g"), d % 97 % 64, lit(".example/q/"),
              d % 13).as("dst_url"))),
          iters = 3, srcCol = "src_host", dstCol = "dst_host")))
        report(s"host_authority#$it", k, nDocs, tA)
      }
    }

    // round-11 estimator rung: the new family's scale risks, measured.
    // poisson_bootstrap is the one with a real fan-out (rows × B
    // replicate weights before the B-bounded fold); msprt/kaplan_meier/
    // log_rank collapse to day-/duration-bounded tables after one
    // partial agg; bradley_terry is ONE kernel exchange (items²
    // counters per partition, rows never shuffle); js_matrix fans the
    // (group, token) table to G(G−1)/2 pairs.
    // ×50 (round-14): the estimator family's flat-scaling claim gets
    // the same evidence depth as the dedup/graph headliners — every op
    // here collapses to a bounded table in one corpus-sized partial
    // agg, so the 5M-row rung should grow ~linearly in scan time only
    if (on("stats")) {
      for (k <- Seq(1, 10, 50)) {
        val ev = spark.read.parquet(eventPaths(k))
          .withColumn("ts", to_timestamp(col("ts")))
        val nEv = ev.count()
        val purch = ev.where(col("event_type") === "purchase")
        val (_, tBoot) = time(sink(graft.ops.Stats.poissonBootstrap(
          purch, "event_id", "value", replicates = 200)))
        report("st_poisson_boot", k, nEv, tBoot)
        val grp = purch.withColumn("grp",
          when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd")))
        val (_, tMs) = time(sink(graft.ops.Stats.msprt(
          grp, "ts", "grp", "value")))
        report("st_msprt", k, nEv, tMs)
        val t = floor(unix_micros(col("ts")).cast("double") / lit(1000000.0d))
          .cast("long")
        val subjBase = ev.select(col("user_id"), t.as("_t"))
          .groupBy(col("user_id"))
          .agg(min(col("_t")).as("_f"), max(col("_t")).as("_l"))
        val subj = subjBase.crossJoin(
            broadcast(subjBase.agg(max(col("_l")).as("_gm"))))
          .select(col("user_id"),
            when(col("_gm") - col("_l") > 604800L,
              expr("(_l - _f) div 86400"))
              .otherwise(expr("(_gm - _f) div 86400")).as("dur"),
            when(col("_gm") - col("_l") > 604800L, 1).otherwise(0).as("ev"))
          .persist()
        val (_, tKm) = time(sink(graft.ops.Stats.kaplanMeier(subj, "dur", "ev")))
        report("st_kaplan_meier", k, nEv, tKm)
        // round-12 additions: the rest of the survival/causal family —
        // each collapses to a duration-/stratum-/value-bounded table in
        // one corpus-sized partial agg, so ×10 should be ~flat
        val subjG = subj.withColumn("grp",
          when(col("user_id") % 2 === 0, lit("even")).otherwise(lit("odd")))
        val (_, tLr) = time(sink(graft.ops.Stats.logRank(
          subjG, "dur", "ev", "grp")))
        report("st_log_rank", k, nEv, tLr)
        val (_, tRm) = time(sink(graft.ops.Stats.rmst(subj, "dur", "ev", 30L)))
        report("st_rmst", k, nEv, tRm)
        // round-13 additions: the remaining duration-bounded ladders
        val (_, tNa) = time(sink(graft.ops.Stats.nelsonAalen(
          subj, "dur", "ev")))
        report("st_nelson_aalen", k, nEv, tNa)
        val (_, tCr) = time(sink(graft.ops.Stats.competingRisks(
          subj.select(col("dur"),
            when(col("ev") === 1, (col("user_id") % 3 + 1).cast("int"))
              .otherwise(0).as("cev")),
          "dur", "cev")))
        report("st_competing_risks", k, nEv, tCr)
        subj.unpersist(blocking = false)
        // round-13 additions: blocked-rank T1 + BY-FDR ladder at scale
        val fcnt = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("_c0"))
        val fdense = ev.select(col("user_id")).distinct()
          .crossJoin(broadcast(ev.select(col("event_type")).distinct()))
          .join(fcnt, Seq("user_id", "event_type"), "left")
          .withColumn("_c0", coalesce(col("_c0"), lit(0L)))
        val (_, tFr) = time(sink(graft.ops.Stats.friedman(
          fdense, "user_id", "event_type", "_c0")))
        report("st_friedman", k, nEv, tFr)
        val ftests = ev
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
        val (_, tBy) = time(sink(graft.ops.Stats.bhFdr(
          ftests, "test_id", "p_micro", 50000L, dependence = true)))
        report("st_by_fdr", k, nEv, tBy)
        // IPW-ATE: p290's exact stratum-share recipe (integer micro
        // outcome exercises the new DECIMAL passthrough at scale)
        val users = ev.groupBy(col("user_id"))
          .agg(
            sum(when(col("event_type") === "click", 1L).otherwise(0L))
              .as("_clicks"),
            sum(when(col("event_type") === "purchase",
              floor(col("value").cast("double") * lit(1000000.0d))
                .cast("long")).otherwise(0L)).as("_ym"))
        val strat = users
          .withColumn("_s", col("user_id") % 8)
          .withColumn("_t", (col("_clicks") >= 14L).cast("int"))
        val eTab = strat.groupBy(col("_s"))
          .agg(sum(col("_t")).as("_tc"), count(lit(1)).as("_n"))
          .select(col("_s"), greatest(lit(1L), least(lit(999999L),
            expr("_tc * 1000000 div _n"))).as("_e"))
        val (_, tIpw) = time(sink(graft.ops.Stats.ipwAte(
          strat.join(broadcast(eTab), "_s"), "_t", "_ym", "_e", 10000L)))
        report("st_ipw_ate", k, nEv, tIpw)
        val (_, tQte) = time(sink(graft.ops.Stats.quantileTreatmentEffect(
          grp, "grp", "value", Seq(25, 50, 75, 90))))
        report("st_qte", k, nEv, tQte)
        val cmhIn = ev.groupBy(col("user_id"))
          .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("_ck"),
            sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("_pc"))
          .select(col("user_id").cast("string"),
            (col("user_id") % 8).cast("string").as("st"),
            (col("_ck") >= 14L).cast("int").as("tr"),
            (col("_pc") >= 3L).cast("int").as("oc"))
        val (_, tCmh) = time(sink(graft.ops.Stats.cmhTest(
          cmhIn, "st", "tr", "oc")))
        report("st_cmh", k, nEv, tCmh)
        val cnt = ev.groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("_c"))
        val prefs = cnt.as("a").join(cnt.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .where(col("a._c") =!= col("b._c"))
          .select(
            when(col("a._c") > col("b._c"), col("a.event_type"))
              .otherwise(col("b.event_type")).as("w"),
            when(col("a._c") > col("b._c"), col("b.event_type"))
              .otherwise(col("a.event_type")).as("l"))
        val (_, tBt) = time(sink(graft.ops.Stats.bradleyTerry(
          prefs, "w", "l", iterations = 12, maxItems = 100)))
        report("st_bradley_terry", k, nEv, tBt)
      }
      for (k <- Seq(1, 4, 20)) {
        val docs = spark.read.parquet(docPaths(k))
        val nDocs = docs.count()
        val (_, tJm) = time(sink(graft.ops.CorpusOps.jsDivergenceMatrix(
          docs, "text", "lang")))
        report("st_js_matrix", k, nDocs, tJm)
        val (_, tVu) = time(sink(graft.ops.CorpusOps.vocabUnseen(docs)))
        report("st_vocab_unseen", k, nDocs, tVu)
        // round-12: the in-engine trainer at scale — iters full-batch
        // passes over the persisted feature frame (p297's recipe), then
        // the map-only serve half over the same corpus
        // scaled docs carry no n_chars column — length(text) is the
        // same single-column map for the timing's purposes
        val feats = docs.select(
          (col("lang") === "en").cast("int").as("y"),
          array(length(col("text")).cast("double") / lit(1000.0d),
            graft.ops.TextAnalysis.tokenCount(col("text")).cast("double") /
              lit(100.0d)).as("x"))
        val (wts, tFit) = time {
          graft.ops.Glm.logisticFit(feats, "x", "y",
              iters = 6, lrMicro = 500000L)
            .orderBy("idx").collect().map(_.getLong(1)).toSeq
        }
        report("st_logistic_fit", k, nDocs, tFit)
        val (_, tScore) = time(sink(
          graft.ops.Glm.logisticScore(feats, "x", wts)))
        report("st_logistic_score", k, nDocs, tScore)
      }
    }
    spark.stop()
  }
}
