package graft

import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite

/** Plan-quality regression pins: the physical shapes the engine promises
  * (pushdown, partial aggregation, top-k without a full sort, windows
  * with a single hash-partition exchange) must survive refactors. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q01: filters reach the parquet scan") {
    val p = plan("q01_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), IsNotNull(o_totalprice), EqualTo(o_orderstatus,F)")
      || p.contains("EqualTo(o_orderstatus,F)"), p)
    // only the 3 referenced columns are read
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_orderstatus:string,o_totalprice:double>"), p)
  }

  test("q12: map-side partial aggregation before the exchange") {
    val p = plan("q12_groupby")
    val firstAgg = p.indexOf("HashAggregate")
    val firstExchange = p.indexOf("Exchange")
    assert(firstAgg >= 0 && firstExchange >= 0)
    // plan prints top-down: final agg, exchange, partial agg, scan —
    // there must be a HashAggregate BELOW the exchange too
    assert(p.indexOf("HashAggregate", firstExchange) > firstExchange, p)
  }

  test("q14: top-k plans as TakeOrderedAndProject, no global sort") {
    val p = plan("q14_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q07: dimension join broadcasts, never sort-merges") {
    val p = plan("q07_left_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p23: split reads only the two referenced columns") {
    val p = plan("p23_content_split")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("p25: block bases broadcast back; the op never range-shuffles the data") {
    import org.apache.spark.sql.functions._
    // the OP's plan, without the gate's presentation orderBy
    val docs = graft.engine.Tables(spark, dir, "documents").select(
      col("doc_id"),
      graft.ops.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val p = graft.ops.Packing.packSequences(docs, "doc_id", "n_tokens", 2048, 128)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // the data-sized side must not be globally sorted into one range —
    // only the tiny per-block summary may see a single-partition window
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("pivot with an explicit value list scans the source exactly once") {
    val p = SparkEntry.queries("p45_pivot")(spark, dir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("blocked fuzzy join: native kernel (no ScalaUDF) and the length-prune guard fire") {
    import org.apache.spark.sql.functions._
    val probes = graft.engine.Tables(spark, dir, "customer")
      .select(col("c_name").as("name"))
    val catalog = graft.engine.Tables(spark, dir, "supplier")
      .select(col("s_name").as("NOMBRE_EMP"))
    val q = graft.ops.FuzzyJoin.bestMatchBlocked(probes, "name", catalog, "NOMBRE_EMP", 0.6)
    val physical = q.queryExecution.executedPlan.toString
    assert(!physical.contains("ScalaUDF"), physical)
    // SimilarityLengthPruning (installed by GraftSession) conjoined its
    // O(1) length guard ahead of the quadratic scorer
    val optimized = q.queryExecution.optimizedPlan.toString
    assert(optimized.contains("least("), optimized)
    assert(optimized.contains("similarity_ratio"), optimized)
  }

  test("p62: weighted sample is one TakeOrderedAndProject, never a global sort") {
    val p = plan("p62_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("p61: per-group top-k gets a partial WindowGroupLimit below the exchange") {
    val p = plan("p61_topk_per_group")
    val firstExchange = p.indexOf("Exchange")
    // rank-limit pushdown: a WindowGroupLimit must run map-side (below
    // the hash exchange) so giant groups prune before shuffling
    assert(p.indexOf("WindowGroupLimit", firstExchange) > firstExchange, p)
  }

  test("p49: pre-distinct aggregate plans WITHOUT an Expand") {
    // the round-8 fix: the mixed distinct/non-distinct aggregate planned
    // an Expand that doubled the input through the first agg phase
    val p = plan("p49_approx_distinct")
    assert(!p.contains("Expand"), p)
  }

  test("p75: repeated spans reads only (doc_id, text); counts partial-agg map-side") {
    val p = plan("p75_repeated_spans")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    val firstExchange = p.indexOf("Exchange")
    assert(p.indexOf("HashAggregate", firstExchange) > firstExchange, p)
    // round-9 pin: the hot-hash side is a count-only df table semi-joined
    // back onto the stream — NO aggregate may build a per-hash occurrence
    // array (the 100 TB OOM shape this replaced)
    assert(!p.contains("collect_list"), p)
    assert(!p.contains("ObjectHashAggregate"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("p83: the vocab-bounded DSIR bits table broadcasts onto the instance stream") {
    // round-9 pin: the corpus-tokens × vocab join must be a broadcast —
    // shuffled, its key is a unigram ("the" = massive skew at 100 TB)
    val p = plan("p83_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("p120: k-anonymity audit is one partial-agg count — no window, no join") {
    val p = plan("p120_k_anonymity")
    assert(!p.contains("Window"), p)
    assert(!p.contains("Join"), p)
    // exactly one hash exchange, with the map-side partial count BELOW it
    // (printed after it in the top-down tree)
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    val hashIdx = p.indexOf("Exchange hashpartitioning")
    assert(p.indexOf("partial_count", hashIdx) > hashIdx, p)
  }

  test("p78/p79: PQ scoring runs in the native kernels, never a ScalaUDF") {
    val p78 = plan("p78_ann_pq")
    assert(p78.contains("pq_adc") && p78.contains("pq_encode"), p78)
    assert(!p78.contains("ScalaUDF"), p78)
    val p79 = plan("p79_ann_ivfpq")
    assert(p79.contains("pq_adc_one"), p79)
    assert(!p79.contains("ScalaUDF"), p79)
  }

  test("rolling windows (ROWS and RANGE): ONE hash exchange, no range shuffle") {
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Tables(spark, dir, "events")
    for (df <- Seq(
        graft.ops.EventsOps.rollingStats(ev, frame = 5),
        graft.ops.EventsOps.rollingRange(ev, windowSeconds = 3600L))) {
      val p = df.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
      assert(!p.contains("Exchange rangepartitioning"), p)
    }
  }

  test("p89: line cleaning is map-only — zero exchanges in the op's plan") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables(spark, dir, "documents")
    val p = graft.ops.TextAnalysis.c4LineClean(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("p90: bloom probe broadcasts the filter and the audit set, never sort-merges") {
    import org.apache.spark.sql.functions._
    val docs = graft.engine.Tables(spark, dir, "documents")
    val probes = docs.limit(5).select(col("doc_id").as("qid"), col("text"))
    val p = graft.ops.CorpusOps.bloomDecontam(docs, probes, Seq("qid"))
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p92: epoch shuffle is one hash exchange (the per-shard window), no range shuffle") {
    val docs = graft.engine.Tables(spark, dir, "documents")
    val p = graft.ops.CorpusOps.epochShuffle(docs, epoch = 1, nShards = 8)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("p98: template lines broadcast back; doc text never sort-merges") {
    val docs = graft.engine.Tables(spark, dir, "documents")
    val p = graft.ops.CorpusOps.boilerplateLines(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p99: intra-doc line dedup is map-only — zero exchanges") {
    val docs = graft.engine.Tables(spark, dir, "documents")
    val p = graft.ops.TextAnalysis.dedupLinesWithin(docs)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("p100: EWMA is ONE hash exchange (the key window), no range shuffle") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val p = graft.ops.EventsOps.ewmaSmooth(ev, frame = 8)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("p102: quota cut gets a partial WindowGroupLimit below the exchange") {
    val p = plan("p102_cluster_sample")
    val firstLimit = p.indexOf("WindowGroupLimit")
    assert(firstLimit >= 0, p)
    // partial mode prunes map-side: a second WindowGroupLimit below the
    // exchange (same contract as the p61 top-k pin)
    assert(p.indexOf("WindowGroupLimit", firstLimit + 1) > firstLimit, p)
  }

  test("p103: ROLLUP is one scan — a single Expand feeding one aggregation pair") {
    val p = plan("p103_rollup_profile")
    assert("Expand".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Union"), p)
  }

  test("no query plans a cartesian product except the declared broadcast NL scorers") {
    val allowNl = Set("q08_fuzzy_top1", "p01_hom_pipeline", "p07_ann_brute",
      "p18_hom_pipeline_intended")
    SparkEntry.queries.keys.filterNot(allowNl).foreach { name =>
      val p = try SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString
        catch { case NonFatal(_) => "" }
      assert(!p.contains("CartesianProduct"), s"$name plans a CartesianProduct")
    }
  }

  test("p107/p113: sweep-line and CUSUM ride ONE key exchange (window+agg reuse)") {
    val ev = graft.engine.Tables(spark, dir, "events")
    Seq(
      graft.ops.EventsOps.intervalCoverage(ev, ttlSeconds = 300L),
      graft.ops.EventsOps.changePoint(ev)
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
      assert(!p.contains("Exchange rangepartitioning"), p)
    }
  }

  test("p108: group trend is one partial-agg exchange, no window") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val p = graft.ops.EventsOps.groupTrend(ev)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Window"), p)
    // partial aggregation runs map-side below the exchange
    assert(p.indexOf("HashAggregate") >= 0 &&
      p.indexOf("HashAggregate", p.indexOf("Exchange")) > 0, p)
  }

  test("p114/p118: motif top-k plans TakeOrdered, never a global sort") {
    Seq("p114_transition_motifs", "p118_journey_motifs").foreach { name =>
      val p = plan(name)
      assert(p.contains("TakeOrderedAndProject"), s"$name: $p")
      assert(!p.contains("Exchange rangepartitioning"), s"$name: $p")
    }
  }

  test("p129/p132: pair self-joins are equi-joins; only the 1-row global " +
    "normalizer rides a broadcast NL") {
    Seq("p129_basket_lift", "p132_cooccur_lift").foreach { name =>
      val p = plan(name)
      // the corpus-sized self-join keys on the basket/doc column — an
      // all-pairs NL here would be quadratic at 100 TB
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"), s"$name: $p")
      assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, s"$name: $p")
    }
  }

  test("p131/p134: iterative graph state is cache-pinned; joins stay equi") {
    Seq("p131_pagerank", "p134_triangles").foreach { name =>
      val p = plan(name)
      assert(p.contains("InMemoryTableScan"),
        s"$name: loop-invariant edge state must be persisted\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$name: $p")
    }
  }

  test("bfsDepths: plan growth is linear by construction — final plan shape is maxDepth-invariant") {
    // each round persists + materializes, so the RETURNED plan always
    // reads (last round cache) ∪ (last round cache ⋈ edge cache) —
    // the same constant shape at depth 3 and depth 6. Before the
    // per-round persist the logical plan doubled per round and only
    // ReuseExchange kept execution sane.
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    def shape(depth: Int): Int = {
      spark.sharedState.cacheManager.clearCache()
      graft.ops.Graph.bfsDepths(edges, seeds, maxDepth = depth)
        .queryExecution.optimizedPlan.collectLeaves().size
    }
    val s3 = shape(3)
    val s6 = shape(6)
    assert(s3 == s6, s"plan leaves grew with maxDepth: $s3 vs $s6")
    // and the leaf count is the constant 2-cache shape, not 2^depth
    assert(s6 <= 4, s"expected the constant union∪join shape, got $s6 leaves")
    spark.sharedState.cacheManager.clearCache()
  }

  test("p127/p130: funnel and RFM partial-agg below their first exchange") {
    Seq("p127_funnel", "p130_rfm").foreach { name =>
      val p = plan(name)
      val firstExchange = p.indexOf("Exchange")
      assert(firstExchange >= 0 && p.indexOf("HashAggregate", firstExchange) > 0,
        s"$name: $p")
    }
  }

  test("p133: session table is ONE key exchange (window + agg reuse)") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val p = graft.ops.EventsOps.sessionize(ev)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).length == 1, p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("p156: correlation matrix is ONE aggregate pass — no join, partial agg map-side") {
    val li = graft.engine.Tables(spark, dir, "lineitem")
    val p = graft.ops.Stats.correlationMatrix(li,
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), p)
    val firstExchange = p.indexOf("Exchange")
    assert(firstExchange >= 0 && p.indexOf("HashAggregate", firstExchange) > 0, p)
  }

  test("p155: pareto frontier joins back via broadcast; the corpus is never range-shuffled") {
    import org.apache.spark.sql.functions._
    val pt = graft.engine.Tables(spark, dir, "part").select(col("p_partkey"),
      floor(col("p_retailprice").cast("double") * lit(1000000.0d))
        .cast("long").as("price_micro"), col("p_size"))
    val p = graft.ops.Stats.paretoFrontier(pt, "price_micro", "p_size")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p152/p157: ACF and entropy broadcast their bounded side and stay on hash exchanges") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val acf = graft.ops.EventsOps.acfByKey(ev, maxLag = 3)
      .queryExecution.executedPlan.toString
    assert(acf.contains("BroadcastHashJoin"), acf) // key moments broadcast back
    val ent = graft.ops.EventsOps.typeEntropy(ev)
      .queryExecution.executedPlan.toString
    // (key,type) agg + key window + key agg — never more than two key
    // exchanges, no range shuffle anywhere
    assert("Exchange hashpartitioning".r.findAllIn(ent).length <= 2, ent)
    assert(!ent.contains("Exchange rangepartitioning"), ent)
  }

  test("p151/p158: digit screen and profile partial-agg below their first exchange") {
    val li = graft.engine.Tables(spark, dir, "lineitem")
    val ev = graft.engine.Tables(spark, dir, "events")
    Seq(
      graft.ops.Governance.benfordScreen(li, "l_extendedprice"),
      graft.ops.Governance.cardinalityProfile(ev, Seq("event_type", "user_id"))
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      val firstExchange = p.indexOf("Exchange")
      assert(firstExchange >= 0 && p.indexOf("HashAggregate", firstExchange) > 0, p)
    }
  }

  test("p176: OHLC bars are ONE aggregate pair — no window, no global sort") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val p = graft.ops.EventsOps.ohlcBars(ev)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Window"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
    // struct min/max falls back to SortAggregate (struct buffers are
    // not hash-mutable) but the PARTIAL half still runs below the one
    // hash exchange — hot bars collapse map-side
    val firstExchange = p.indexOf("Exchange hashpartitioning")
    assert(firstExchange >= 0, p)
    assert(p.indexOf("partial_min", firstExchange) > 0, p)
    assert(p.indexOf("Exchange hashpartitioning",
      firstExchange + 1) < 0, "more than one hash exchange:\n" + p)
  }

  test("p175/p180: TWAP fold and every rank window share ONE key exchange") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val or = graft.engine.Tables(spark, dir, "orders")
    Seq(
      graft.ops.EventsOps.twap(ev),
      graft.ops.Stats.rankReport(or, "o_orderpriority", "o_totalprice", "o_orderkey")
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning"
      val first = p.indexOf(hashEx)
      assert(first >= 0, p)
      assert(p.indexOf(hashEx, first + 1) < 0, "second key exchange:\n" + p)
    }
  }

  test("p177/p179: range bounds / high-water mark join back via broadcast") {
    val ev = graft.engine.Tables(spark, dir, "events")
    Seq(
      graft.ops.EventsOps.heavyChangers(ev),
      graft.ops.Governance.freshnessReport(ev, "user_id")
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
      assert(!p.contains("SortMergeJoin"), p)
    }
    // and the top-k is TakeOrdered, never a global sort
    val hc = graft.ops.EventsOps.heavyChangers(ev)
      .queryExecution.executedPlan.toString
    assert(hc.contains("TakeOrderedAndProject"), hc)
  }

  test("p199/p197: vectorizer and histograms partial-agg below their first exchange") {
    val docs = graft.engine.Tables(spark, dir, "documents")
    val or = graft.engine.Tables(spark, dir, "orders")
    val li = graft.engine.Tables(spark, dir, "lineitem")
    Seq(
      graft.ops.CorpusOps.hashingVectorizer(docs, dim = 64),
      graft.ops.Governance.joinCardinality(or, li, "o_orderkey", "l_orderkey"),
      graft.ops.Governance.partitionBalance(li, "l_partkey")
    ).foreach { df =>
      val p = df.queryExecution.executedPlan.toString
      val firstExchange = p.indexOf("Exchange")
      assert(firstExchange >= 0 && p.indexOf("HashAggregate", firstExchange) > 0, p)
    }
  }

  test("p187/p198: survivorship and decay never plan a window or a sort-merge join") {
    val ev = graft.engine.Tables(spark, dir, "events")
    val gr = graft.ops.SnapshotDiff.goldenRecord(
      graft.ops.EventsOps.parseProps(ev), "user_id", "ts", "event_id", Seq("prop_k"))
    val pg = gr.queryExecution.executedPlan.toString
    assert(!pg.contains("Window"), pg)
    val ds = graft.ops.EventsOps.decayScore(ev)
      .queryExecution.executedPlan.toString
    assert(!ds.contains("SortMergeJoin"), ds)
    assert(ds.contains("BroadcastNestedLoopJoin") || ds.contains("BroadcastHashJoin"), ds)
  }

  test("p233/p240: wedge join and peel are equi/semi-joins only — never all-pairs") {
    import org.apache.spark.sql.functions._
    val li = graft.engine.Tables(spark, dir, "lineitem")
    val pairs = li.as("x")
      .join(li.as("y"), col("x.l_orderkey") === col("y.l_orderkey") &&
        col("x.l_partkey") < col("y.l_partkey"))
      .select(col("x.l_partkey").as("src"), col("y.l_partkey").as("dst"))
    val lp = graft.ops.Graph.linkPrediction(pairs, topK = 50)
      .queryExecution.executedPlan.toString
    // candidates come ONLY through the shared-neighbor equi-join
    assert(!lp.contains("BroadcastNestedLoopJoin") && !lp.contains("CartesianProduct"), lp)
    val kc = graft.ops.Graph.kCorePeel(pairs, k = 5, rounds = 2)
      .queryExecution.executedPlan.toString
    assert(kc.contains("LeftSemi"), kc)
    assert(!kc.contains("BroadcastNestedLoopJoin") && !kc.contains("CartesianProduct"), kc)
  }

  test("p244/p264: sampling-table cut is TakeOrdered; the token budget never plans a window") {
    val docs = graft.engine.Tables(spark, dir, "documents")
    val ns = graft.ops.CorpusOps.negativeSamplingTable(docs, k = 10)
      .queryExecution.executedPlan.toString
    // the top-k cut must not global-sort the vocab
    assert(ns.contains("TakeOrderedAndProject"), ns)
    val pairs = docs.sparkSession.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("a",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType))))
    val et = graft.ops.Dedup.effectiveTokens(docs, pairs)
      .queryExecution.executedPlan.toString
    // pure aggregate shape: no window operator anywhere
    assert(!et.contains("Window"), et)
  }

  test("p231/p238: rank tables broadcast back; stump top-k is TakeOrdered, no global sort") {
    val li = graft.engine.Tables(spark, dir, "lineitem")
    val sp = graft.ops.Stats.spearmanMatrix(li,
      Seq("l_quantity", "l_discount")).queryExecution.executedPlan.toString
    // value-cardinality-bounded rank tables come back via broadcast,
    // never a corpus sort-merge
    assert(sp.contains("BroadcastHashJoin"), sp)
    assert(!sp.contains("SortMergeJoin"), sp)
    // round-18: ALL rank ladders ride ONE window over the stacked
    // (column ordinal, value) counts, materialized once as a persisted
    // ladder table that every per-column broadcast reads — the cache
    // scan is the structural pin (the plan string re-renders the
    // cached child per broadcast, so a bare Window count can't be)
    assert(sp.contains("InMemoryTableScan"), sp)
    val ev = graft.engine.Tables(spark, dir, "events")
    import org.apache.spark.sql.functions._
    val gs = graft.ops.Stats.giniSplit(
      ev.where(col("event_type").isNotNull)
        .select(col("value"), (col("event_type") === "purchase").as("lbl")),
      "value", "lbl", topK = 5).queryExecution.executedPlan.toString
    assert(gs.contains("TakeOrderedAndProject"), gs)
  }

  test("p277/p278: linkage pairs only through the block equi-join; alpha is pure aggregation") {
    val pl = plan("p277_record_linkage")
    // candidates come from the blocking key join — never a cross product
    assert(!pl.contains("CartesianProduct"), pl)
    assert(!pl.contains("BroadcastNestedLoopJoin"), pl)
    val pk = plan("p278_krippendorff")
    // coincidence folds are partial-agg'd shuffles; no window anywhere
    assert(!pk.contains("Window"), pk)
    assert(!pk.contains("CartesianProduct"), pk)
  }

  test("suite-wide: no exact Percentile value-buffer aggregate in ANY gate plan") {
    // the rank-ladder rewrites' 100 TB guarantee, extended from p71/p74
    // to the whole suite (round-10 verdict #1): exact percentiles never
    // ride the `percentile` ImperativeAggregate's per-group value
    // multiset (the OOM class — buffer grows with group size).
    // `percentile_approx` (bounded KLL-style sketch) stays legal: it is
    // the deliberate 100 TB sketch path gated by p50/p53.
    val exactPercentile = "(?<!approx_)percentile\\(".r
    val offenders = SparkEntry.queries.keys.toSeq.sorted.filter { name =>
      exactPercentile.findFirstIn(plan(name).toLowerCase).isDefined
    }
    assert(offenders.isEmpty,
      s"exact Percentile aggregate found in: ${offenders.mkString(", ")}")
  }

  test("p71: winsorize bounds broadcast back, never a corpus sort-merge join") {
    val pw = plan("p71_winsorize")
    assert(pw.contains("BroadcastHashJoin"), pw)
    assert(!pw.contains("SortMergeJoin"), pw)
  }

  test("p281/p282: column-pruned scans, no corpus-sized join") {
    // mannWhitney reads only (event_type, value); the sole joins are the
    // 1-row group-frame broadcasts — never a corpus sort-merge join
    val pm = plan("p281_mann_whitney")
    assert(pm.contains("ReadSchema: struct<event_type:string,value:double>"), pm)
    assert(!pm.contains("SortMergeJoin"), pm)
    // adjustedRand reads only the two label columns; everything after
    // the contingency partial agg is 1-row cross joins
    val pa = plan("p282_adjusted_rand")
    assert(pa.contains("ReadSchema: struct<lang:string,source:string>"), pa)
    assert(!pa.contains("SortMergeJoin"), pa)
  }

  test("media + url triage expressions run INSIDE whole-stage codegen, no ScalaUDF") {
    import org.apache.spark.sql.functions._
    // the README claim "native doGenCode, no interpreted expressions on
    // hot paths" for the round-13 expressions. Probed over an
    // exchange-free range plan because AQE hides the '*(n)' codegen
    // markers on un-executed exchanged plans; collect() forces Janino
    // compilation so a silent interpreted fallback cannot pass.
    val junk = encode(concat(lit("junkbytes"), col("id")), "UTF-8")
    for ((marker, c) <- Seq(
        ("image_dims", graft.functions.MediaFunctions.image_dims(junk)),
        ("audio_meta", graft.functions.MediaFunctions.audio_meta(junk)),
        ("video_meta", graft.functions.MediaFunctions.video_meta(junk)),
        ("url_normalize", graft.functions.UrlFunctions.url_normalize(
          concat(lit("HTTP://X.org:80/a/"), col("id")))))) {
      val df = spark.range(8).select(c.as("out"))
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("ScalaUDF"), s"$marker: $p")
      val line = p.linesIterator.find(_.contains(marker))
      assert(line.isDefined, s"$marker not in plan\n$p")
      assert(line.get.trim.startsWith("*("),
        s"$marker evaluated OUTSIDE WholeStageCodegen:\n$p")
      assert(df.collect().length == 8)
    }
    // and the gate plans carry no ScalaUDF anywhere
    for (name <- Seq("p312_image_header_scan", "p317_webp_tiff_scan",
        "p318_audio_header_scan", "p323_video_header_scan",
        "p319_url_normalize", "p324_robots_wildcards")) {
      assert(!plan(name).contains("ScalaUDF"), name)
    }
  }

  test("raster-decode + EXIF gates: hash/triage stages are shuffle-free past the fixture build") {
    // the decode-hash scan itself must be map-only: the only exchange
    // any of these plans may carry is the final orderBy's range
    // partitioning (and p354/p355's, same); a hash exchange would mean
    // the scan stage shuffled
    for (name <- Seq("p347_png_dhash", "p348_jpeg_dhash", "p352_gif_dhash",
        "p356_progressive_jpeg_dhash", "p357_exif_oriented_dhash",
        "p358_webp_vp8l_dhash", "p359_adam7_png_dhash",
        "p360_webp_oriented_dhash", "p363_webp_anim_dhash",
        "p354_exif_triage", "p355_exif_strip",
        "p361_webp_exif_triage", "p362_webp_exif_strip",
        "p364_png_exif_triage", "p365_png_exif_strip",
        "p366_png_oriented_dhash", "p367_mixed_exif_redact",
        "p373_tiff_dhash", "p374_tiff_oriented_dhash")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"), s"$name: ScalaUDF in\n$p")
      val hashExchanges = p.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning"))
      assert(hashExchanges == 0, s"$name: decode scan shuffled\n$p")
    }
  }

  test("audio fingerprint gates: map-only scan, banded near-dup join, no ScalaUDF") {
    // pure scan + orderBy gates: no ScalaUDF, no hash exchange
    for (name <- Seq("p369_audio_fingerprint", "p376_audio_resample",
        "p377_audio_meta_triage", "p378_audio_meta_strip")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"), s"$name: ScalaUDF in\n$p")
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
        s"$name: scan shuffled\n$p")
    }
    // pair generation must be the banded equi-join — never a
    // cartesian/broadcast-nested-loop all-pairs comparison
    for (name <- Seq("p370_audio_neardup", "p379_audio_curation",
        "p380_video_curation")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"), s"$name: ScalaUDF in\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: all-pairs join\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: all-pairs join\n$p")
    }
  }

  test("video frame gates: generator scan stays map-only, near-dup is hash equi-join") {
    for (name <- Seq("p371_video_frame_sample", "p381_webp_anim_frames")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"), s"$name: ScalaUDF in\n$p")
      assert(p.linesIterator.count(_.contains("Exchange hashpartitioning")) == 0,
        s"$name: frame scan shuffled\n$p")
    }
    for (name <- Seq("p372_video_neardup", "p382_cross_container_video_neardup")) {
      val p = plan(name)
      assert(!p.contains("ScalaUDF"), s"$name: ScalaUDF in\n$p")
      assert(!p.contains("CartesianProduct"), s"$name: all-pairs join\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: all-pairs join\n$p")
    }
  }

  test("p320/p322: URL dedup is one agg without a window; robots rules broadcast") {
    // keep-best per canonical URL must stay a struct-max partial agg —
    // a Window/self-join here would serialize the corpus
    val dedup = plan("p320_url_dedup")
    assert(!dedup.contains("WindowExec") && !dedup.contains("Window ["), dedup)
    assert(!dedup.contains("SortMergeJoin"), dedup)
    // the per-host rule arrays must reach the fact table via broadcast,
    // never a shuffled join (rules are KB per host; the fact side is
    // the 100 TB crawl)
    val robots = plan("p322_robots_filter")
    assert(robots.contains("BroadcastHashJoin") ||
      robots.contains("BroadcastExchange"), robots)
    assert(!robots.contains("SortMergeJoin"), robots)
  }

  test("robots large mode: above the host ceiling the rule joins hash-shuffle, never sort-merge or broadcast") {
    // a CommonCrawl-scale corpus carries tens of millions of hosts ×
    // KB-sized rule arrays — an unconditional broadcast is a driver-OOM
    // scale-killer. With the ceiling forced to 0 the dim must reach the
    // fact table via a ShuffledHashJoin (the dim side hash-builds; a
    // sort-merge would sort the 100 TB fact side for nothing).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val robots = Seq(
      ("a.example", "User-agent: *\nDisallow: /priv\nAllow: /priv/open"),
      ("b.example", "User-agent: graftbot\nDisallow: /x")).toDF("host", "body")
    val urls = Seq((1L, "http://a.example/priv/q"),
      (2L, "http://a.example/priv/open/q"), (3L, "http://b.example/x/y"),
      (4L, "http://c.example/free")).toDF("id", "url")
    val rulesBig = graft.ops.UrlOps.robotsRules(robots, broadcastMaxHosts = 0L)
    val big = graft.ops.UrlOps.robotsAllowed(urls, rulesBig, "graftbot",
      broadcastMaxHosts = 0L)
    val p = big.queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
    // both modes return byte-identical verdicts
    val small = graft.ops.UrlOps.robotsAllowed(urls,
      graft.ops.UrlOps.robotsRules(robots), "graftbot")
    val got = big.orderBy("id").select("id", "allowed")
      .as[(Long, Boolean)].collect().toSeq
    assert(got == small.orderBy("id").select("id", "allowed")
      .as[(Long, Boolean)].collect().toSeq)
    assert(got == Seq((1L, false), (2L, true), (3L, false), (4L, true)))
  }
}
