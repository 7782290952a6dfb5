package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, TextAnalysis}

/** Dedup family: exact, MinHash-LSH, SimHash — correctness on planted
  * near-dups + scale-shape assertions (no cartesian products). */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again tonight"),
    (2L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near-dup of 1
    (3L, "completely different content about spark query engines and shuffles"),
    (4L, "the quick brown fox jumps over the lazy dog again and again tonight"), // exact dup of 1
    (5L, "unrelated short text")
  ).toDF("doc_id", "text")

  test("exactDedup keeps min id per key") {
    val out = Dedup.exactDedup(base, "doc_id", Seq("text"))
      .orderBy("keep_id").select("keep_id", "n_dups")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == Seq((1L, 2L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("minhash LSH finds exact and near dup pairs, not unrelated ones") {
    val pairs = Dedup.minHashNearDupsWords(base, "doc_id", "text",
      numHashes = 64, bands = 16, jaccardThreshold = 0.5)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L))) // exact dup, jaccard 1.0
    assert(pairs.contains((1L, 2L)) && pairs.contains((2L, 4L))) // near dups
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L || a == 5L || b == 5L })
  }

  test("minhash signature is deterministic and 64-wide") {
    val sig = Dedup.minHashSignatures(base, "doc_id", "text")
      .where($"doc_id" === 1L).select("minhash").first().getSeq[Long](0)
    val sig2 = Dedup.minHashSignatures(base, "doc_id", "text")
      .where($"doc_id" === 4L).select("minhash").first().getSeq[Long](0)
    assert(sig.size == 64)
    assert(sig == sig2) // identical text → identical signature
  }

  test("simhash: identical text → hamming 0; near-dup → small; different → large") {
    val sh = Dedup.simHash(base, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(4L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) <= 12)
    assert(ham(sh(1L), sh(3L)) > 12)
  }

  test("simHashNearDups at hamming 0 finds the exact pair via bands") {
    val pairs = Dedup.simHashNearDups(base, "doc_id", "text", maxHamming = 0)
      .select("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 4L)))
  }

  test("LSH pipelines contain no cartesian product") {
    val plan = Dedup.minHashNearDupsWords(base, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan)
    val plan2 = Dedup.simHashNearDups(base, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("CartesianProduct"), plan2)
  }

  test("connectedComponents: chain collapses to min label across rounds") {
    // path 1-2-3-...-8 needs multiple propagation rounds (diameter 7)
    val chain = (1L to 7L).map(i => (i, i + 1)).toDF("a", "b")
    val comps = Dedup.connectedComponents(chain)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps.keySet == (1L to 8L).toSet)
    assert(comps.values.toSet == Set(1L))
  }

  test("connectedComponents: disjoint cliques stay disjoint; orientation-free") {
    val edges = Seq((2L, 1L), (3L, 1L), (2L, 3L), (10L, 11L), (20L, 20L))
      .toDF("a", "b")
    val comps = Dedup.connectedComponents(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(10L) == 10L && comps(11L) == 10L)
    assert(comps(20L) == 20L) // self-loop = singleton
  }

  test("connectedComponents refuses to return non-converged labels") {
    val chain = (1L to 9L).map(i => (i, i + 1)).toDF("a", "b") // diameter 9
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 3)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("dedupClusters emits component + cluster size per clustered doc") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val out = Dedup.dedupClusters(pairs).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (8L, 7L, 2L)))
  }

  test("keepBest keeps the quality argmax per cluster, id tie-break") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b")
    val quality = Seq(
      (1L, 10L), (2L, 99L), (3L, 50L), // cluster {1,2,3}: 2 wins on score
      (7L, 5L), (8L, 5L),              // cluster {7,8}: tie → min id 7
      (9L, 1000L)                      // unclustered: never emitted
    ).toDF("doc_id", "n_chars")
    val out = Dedup.keepBest(pairs, quality, "doc_id", "n_chars")
      .orderBy("component")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 3L, 2L, 99L), (7L, 2L, 7L, 5L)))
  }

  test("incrementalDedup classifies exact / near / new against a corpus") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again tonight"),
      (11L, "completely different content about spark query engines and shuffles")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again tonight"), // exact of 10
      (101L, "the quick brown fox jumps over the lazy dog again and again tomorrow"), // near of 10
      (102L, "entirely novel text that matches nothing in the existing corpus at all")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(batch, corpus, jNum = 1, jDen = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(out.toSeq == Seq(
      (100L, "exact", 10L), (101L, "near", 10L), (102L, "new", -1L)))
  }

  test("ngramJaccard computes exact char-3-gram similarity for id pairs") {
    val df = Seq((1L, "abcabc"), (2L, "abcabc"), (3L, "zzzzzz")).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(df, "doc_id", "text", a => a + 1)
      .orderBy("a").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq((1L, 2L, 1.0), (2L, 3L, 0.0)))
  }

  test("repeatedSpans: maximal cross-doc repeated windows, planted boilerplate") {
    // a shared 6-token license block inside otherwise-unique docs
    val block = "licensed under the apache license version"
    val docs = Seq(
      (1L, s"alpha beta gamma $block delta epsilon zeta"),
      (2L, s"one two $block three four five six seven"),
      (3L, "totally unrelated words that repeat nothing from anywhere else here"),
      // a doc REPEATING the block internally — within-doc repeats count
      (4L, s"$block pad1 pad2 $block")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, n = 4)
      .orderBy("doc_id", "span_start").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // doc 1: block at tokens 3..8 → windows 3,4,5 (4-grams inside the
    // 6-token block) → span [3, 9)
    // doc 2: block at tokens 2..7 → span [2, 8)
    // doc 4: block twice (0..5 and 8..13) → spans [0,6) and [8,14)
    assert(out.toSeq == Seq(
      (1L, 3, 9, 3L),
      (2L, 2, 8, 3L),
      (4L, 0, 6, 3L),
      (4L, 8, 14, 3L)))
  }

  test("repeatedSpans merges overlapping repeats into one maximal span") {
    // two docs identical over a long prefix: every window inside repeats
    val shared = (1 to 10).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared unique1 tail1"),
      (2L, s"$shared unique2 tail2")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(docs, n = 4)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    // windows 0..6 of the 10-token shared prefix repeat → one span [0,10)
    assert(out.toSeq == Seq((1L, 0, 10, 7L), (2L, 0, 10, 7L)))
  }

  test("applySpanCuts removes exactly the spanned tokens, pins the cleaned md5") {
    val docs = Seq(
      (1L, "x1 x2 p q r y1"),    // "p q r" repeats → span [2,5)
      (2L, "z1 p q r z2 z3"),    // span [1,4)
      (3L, "u1 u2 u3")           // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.applySpanCuts(docs, Dedup.repeatedSpans(docs, n = 3))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    def m(s: String): String =
      spark.sql(s"SELECT md5('$s')").first().getString(0)
    assert(out.toSeq == Seq(
      (1L, 6L, 3L, m("x1 x2 y1")),
      (2L, 6L, 3L, m("z1 z2 z3")),
      (3L, 3L, 0L, m("u1 u2 u3"))))
  }

  test("lshPlan derives the shipped band config and degrades sanely") {
    // 64 hashes, J >= 0.8, recall 0.99 -> the engine's shipped (16, 4)
    val (b, r, rec) = Dedup.lshPlan(0.8, 64)
    assert(b == 16 && r == 4 && rec > 0.999)
    // stricter threshold still lands on 16 bands (8 bands gives 0.9888)
    assert(Dedup.lshPlan(0.9, 64)._1 == 16)
    // an unreachable recall target falls back to one hash per band
    val (b2, r2, _) = Dedup.lshPlan(0.01, 4, minRecall = 0.999)
    assert(b2 == 4 && r2 == 1)
  }

  test("crossSourceMatrix rolls pairs up to unordered source pairs") {
    val docs = Seq((1L, "s1"), (2L, "s2"), (3L, "s1"), (4L, "s2"))
      .toDF("doc_id", "source")
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L)).toDF("a", "b")
    val out = Dedup.crossSourceMatrix(pairs, docs)
      .orderBy("source_a", "source_b").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    // (1,2)=s1/s2, (2,3)=s2/s1 -> both normalize to (s1,s2); (1,3)=s1/s1; (2,4)=s2/s2
    assert(out == Seq(("s1", "s1", 1L), ("s1", "s2", 2L), ("s2", "s2", 1L)))
  }

  test("continuationPairs links suffix->prefix halves, ignores partial overlap") {
    val docs = Seq(
      (1L, "h1 h2 s1 s2 s3"),   // suffix (s1 s2 s3) == doc 2's prefix
      (2L, "s1 s2 s3 t1 t2"),
      (3L, "x1 s2 s3 y1 y2"),   // only 2 of 3 boundary tokens match: no pair
      (4L, "q1 q2")             // shorter than n: excluded entirely
    ).toDF("doc_id", "text")
    val out = Dedup.continuationPairs(docs, n = 3).orderBy("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((1L, 2L)))
  }

  test("applySpanCuts: a fully-covered doc keeps md5 of the empty string") {
    val docs = Seq((1L, "p q r"), (2L, "p q r")).toDF("doc_id", "text")
    val out = Dedup.applySpanCuts(docs, Dedup.repeatedSpans(docs, n = 3))
      .orderBy("doc_id").collect()
    out.foreach { r =>
      assert(r.getLong(2) == 3L)
      assert(r.getString(3) == "d41d8cd98f00b204e9800998ecf8427e") // md5("")
    }
  }

  test("containmentPairs finds low-Jaccard embeddings Jaccard-LSH cannot") {
    val small = (1 to 10).map(i => s"w$i").mkString(" ")            // 8 shingles
    val big = small + " " + (11 to 20).map(i => s"x$i").mkString(" ") // 18 shingles
    val docs = Seq(
      (1L, small), (2L, big),            // 1 ⊂ 2: J = 8/18 ≈ 0.44, cont(1→2) = 1
      (3L, "alpha beta gamma delta"),    // unrelated
      (4L, "same same2 same3 same4 same5"), (5L, "same same2 same3 same4 same5")
    ).toDF("doc_id", "text")
    val df = Dedup.containmentPairs(docs, thresholdMicro = 900000L).orderBy("a", "b")
    val out = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(5)))
    // the (id, gram) tables are never broadcast, however small they look
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin [_g") && !plan.contains("BroadcastHashJoin [_g"), plan)
    assert(out.toSeq == Seq(
      (1L, 2L, 8, 8, 1000000L),   // embedded doc: full containment
      (4L, 5L, 3, 3, 1000000L),   // identical pair, both directions
      (5L, 4L, 3, 3, 1000000L)))
    // the reverse direction 2→1 is correctly absent (8/18 < 0.9)
    assert(!out.exists(t => t._1 == 2L && t._2 == 1L))
  }

  test("effectiveTokens: cluster keeps the min-id member's tokens, singletons untouched") {
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c d e f"), (3L, "x y z w v")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val r = Dedup.effectiveTokens(docs, pairs).collect()(0)
    // excess = (4 + 6) − 4 = 6 of 15 tokens → 400000 ppm saved
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((3L, 15L, 1L, 1L, 6L, 9L, 400000L)))
    // no pairs at all: zero clusters, zero savings, totals intact
    val none = Dedup.effectiveTokens(docs, pairs.where(col("a") < 0)).collect()(0)
    assert((none.getLong(2), none.getLong(4), none.getLong(5)) == ((0L, 0L, 15L)))
  }

  test("containmentPairs dfCeiling: vacuous cap identical; engaged cap loses ONLY boilerplate-only evidence, scores stay exact") {
    // planted boilerplate: every doc opens with the same 8-token header
    // (its 6 pure-header shingles have df = 5, the planted mega-grams).
    // Docs 1/2 share real content beyond it; doc 5 is mostly header —
    // its containment evidence is boilerplate-only.
    val header = "terms of service apply to this document header"
    val docs = Seq(
      (1L, s"$header alpha beta gamma delta epsilon"),
      (2L, s"$header alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, s"$header lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (4L, s"$header phi chi psi omega aleph bet gimel dalet he vav"),
      (5L, s"$header one two")
    ).toDF("doc_id", "text")
    def run(ceiling: Option[Long]) =
      Dedup.containmentPairs(docs, thresholdMicro = 500000L, dfCeiling = ceiling)
        .select("a", "b", "i_size", "size_a").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val un = run(None)
    // uncapped: the real pair both ways (1⊂2 fully at 11 shared
    // shingles; 2 covers 11/16 of 1) plus every header-only pair the
    // short docs 1 and 5 cross θ with (6 shared pure-header shingles
    // over 11- resp. 8-shingle sets)
    assert(un.map(t => (t._1, t._2)) ==
      Set((1L, 2L), (2L, 1L),
        (1L, 3L), (1L, 4L), (1L, 5L),
        (5L, 1L), (5L, 2L), (5L, 3L), (5L, 4L)))
    // vacuous ceiling (above every df) → byte-identical output
    assert(run(Some(1000L)) == un)
    // engaged ceiling (df ≤ 3 drops the df-5 header grams): exactly the
    // boilerplate-only pairs disappear; the real pair survives with the
    // EXACT uncapped scores (verify always runs on full shingle sets)
    val capped = run(Some(3L))
    assert(capped.subsetOf(un))
    assert(capped.map(t => (t._1, t._2)) == Set((1L, 2L), (2L, 1L)))
    assert(capped.forall(_._3 == 11)) // exact full-set scores survive
    // every dropped pair's entire evidence was the 6 header shingles
    assert((un -- capped).forall(_._3 == 6))
  }

  test("containmentPairs dfCeilingFraction: scale-invariant excluded grams, in-plan resolution, max-of-both semantics") {
    // same planted-boilerplate fixture as the absolute-ceiling spec:
    // 5 docs, the 6 pure-header shingles have df = 5, content grams
    // df ≤ 2. A RELATIVE ceiling must engage identically at every
    // corpus replication factor (df/N is scale-free) — the property the
    // ×50 scale study showed absolute ceilings lack.
    val header = "terms of service apply to this document header"
    val base = Seq(
      (1L, s"$header alpha beta gamma delta epsilon"),
      (2L, s"$header alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, s"$header lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (4L, s"$header phi chi psi omega aleph bet gimel dalet he vav"),
      (5L, s"$header one two"))
    val docs = base.toDF("doc_id", "text")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    def run(d: org.apache.spark.sql.DataFrame, abs: Option[Long], frac: Option[Double]) =
      key(Dedup.containmentPairs(d, thresholdMicro = 500000L,
        dfCeiling = abs, dfCeilingFraction = frac)
        .select("a", "b", "i_size", "size_a").collect())
    // fraction 0.6 of 5 docs → ceiling 3, exactly the engaged absolute
    // case: only the real pair survives, with exact full-set scores
    val frac1 = run(docs, None, Some(0.6))
    assert(frac1 == run(docs, Some(3L), None))
    assert(frac1.map(t => (t._1, t._2)) == Set((1L, 2L), (2L, 1L)))
    // replicate the corpus ×3 (remapped ids): every df triples AND the
    // ceiling triples (floor(0.6·15) = 9), so the EXCLUDED GRAM SET is
    // identical — the pairs among the original five docs come back
    // bit-identical, scores included
    val x3 = (base ++ base.map { case (i, t) => (i + 100L, t) }
                   ++ base.map { case (i, t) => (i + 200L, t) }).toDF("doc_id", "text")
    val frac3 = key(Dedup.containmentPairs(x3, thresholdMicro = 500000L,
        dfCeilingFraction = Some(0.6))
      .where(col("a") <= 5L && col("b") <= 5L)
      .select("a", "b", "i_size", "size_a").collect())
    assert(frac3 == frac1)
    // max-of-both: a large absolute floor under the relative cap makes
    // the ceiling vacuous → byte-identical to the uncapped path
    assert(run(docs, Some(1000L), Some(0.6)) == run(docs, None, None))
    // in-plan resolution: building the capped DataFrame fires no job
    val probeGroup = "containment-frac-construction-probe"
    val seen = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == probeGroup))
          seen.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      spark.sparkContext.setJobGroup(probeGroup, "construction probe")
      Dedup.containmentPairs(docs, thresholdMicro = 500000L,
        dfCeilingFraction = Some(0.6))
      spark.sparkContext.parallelize(Seq(1)).count() // flush marker
      val deadline = System.nanoTime() + 10_000_000_000L
      while (seen.get() == 0 && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.get() == 1, s"expected only the flush job, saw ${seen.get()}")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }

  test("effectiveTokens: keeper falls back to the smallest PRESENT member when the canonical doc was filtered upstream") {
    // cluster {1,2,3} but doc 1 (the component min) is not in `docs` —
    // quality-filtered away. The keeper must be doc 2 (min PRESENT id),
    // so excess = (6 + 5) − 6 = 5, and the totals stay consistent:
    // n_clusters=1, n_removable=1 (2 present members − 1 keeper... the
    // count is members-present − 1 via _n−1 over joined rows)
    val docs = Seq(
      (2L, "a b c d e f"), (3L, "p q r s t"), (9L, "solo doc")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("a", "b")
    val r = Dedup.effectiveTokens(docs, pairs).collect()(0)
    // n_docs=3, n_tokens=6+5+2=13, n_clusters=1, n_removable=1,
    // excess=(6+5)−6=5, effective=8, savings = 5e6 div 13
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6)) ==
      ((3L, 13L, 1L, 1L, 5L, 8L, 5L * 1000000L / 13L)))
  }

  test("jaccardThresholdSweep: cliff between tiers, boundary pair counted at exactly 50") {
    val docs = Seq(
      (1L, "x y z w"), (2L, "x y z w"),      // identical → J = 1 at every tier
      (3L, "x y z q"),                        // J = 1/3 vs 1,2 → below all tiers
      (5L, "m n o p q"), (6L, "m n o p r")    // i=2, u=4 → exactly 50%
    ).toDF("doc_id", "text")
    val out = Dedup.jaccardThresholdSweep(docs).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (50, 2L, 4L), (60, 1L, 2L), (70, 1L, 2L), (80, 1L, 2L), (90, 1L, 2L)))
  }

  test("groupKFold: cluster members share a fold, singletons keyed by own id, content-stable") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("doc_id")
    // clusters {1,2,3} (chain) and {5,6}; 4 is a singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.groupKFold(docs, pairs, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byId = out.map(t => t._1 -> (t._2, t._3)).toMap
    // reps are cluster minima; singleton rep = own id
    assert(byId(1L)._1 == 1L && byId(2L)._1 == 1L && byId(3L)._1 == 1L)
    assert(byId(4L)._1 == 4L)
    assert(byId(5L)._1 == 5L && byId(6L)._1 == 5L)
    // same rep ⇒ same fold; folds in range
    assert(byId(1L)._2 == byId(2L)._2 && byId(2L)._2 == byId(3L)._2)
    assert(byId(5L)._2 == byId(6L)._2)
    assert(out.forall(t => t._3 >= 0L && t._3 < 5L))
    // adding an unrelated document never moves existing folds
    val more = Dedup.groupKFold(docs.union(Seq(7L).toDF("doc_id")), pairs, k = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.forall(t => more(t._1) == t._3))
  }
}
