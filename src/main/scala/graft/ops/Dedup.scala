package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed bucketed
  * from day one: no stage materializes all-pairs. Candidate generation is
  * always a JOIN ON A BLOCKING KEY (LSH band bucket / simhash band), so
  * the quadratic blowup is confined to same-bucket collisions — the
  * standard MinHash-LSH / SimHash construction that holds at 100 TB
  * (shuffle volume ∝ corpus size × bands, never corpus²).
  */
object Dedup {

  /** Exact dedup: keep the minimum id per key group; one hash-aggregate
    * shuffle on the key (map-side partial agg applies). */
  def exactDedup(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash signatures: k independent permutations approximated with
    * seeded xxhash64. One explode + one groupBy; signature is an array
    * column so downstream banding is pure array slicing. */
  def minHashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleSize: Int = 3): DataFrame =
    minHashSignaturesBy(df, idCol,
      TextAnalysis.charShingles(col(textCol), shingleSize), numHashes)

  /** Signature core over an arbitrary shingle-array expression. MAP-ONLY
    * (no explode/groupBy shuffle) AND kernel-native: all k mins in one
    * pass over the shingle bytes (the k× array_min(transform(...)) form
    * walks interpreted expression trees per element). */
  def minHashSignaturesBy(
      df: DataFrame,
      idCol: String,
      shingles: Column,
      numHashes: Int): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleFunctions.minhash_signature(shingles, numHashes).as("minhash"))

  /** LSH banding: signature → (band index, band hash) rows. Pairs sharing
    * any band bucket are candidates. bands × rowsPerBand must equal the
    * signature length. */
  def lshBands(
      signatures: DataFrame,
      idCol: String,
      bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("minhash"), b * rowsPerBand + 1, rowsPerBand)).as("sig"))
    }
    signatures.select(col(idCol), explode(array(bandCols: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.sig").as("sig"))
  }

  /** Candidate pairs from shared band buckets (a < b), with the number
    * of agreeing bands threaded through as `n_bands` — the groupBy that
    * dedups multi-band collisions (formerly a `.distinct()`) counts them
    * for free, and the count is a per-pair signature-agreement signal
    * callers can use to rank or (accepting a recall trade-off) prefilter
    * candidates. The self-join shuffles on (band, sig) — co-located, no
    * cross product. */
  def candidatePairs(bandsDf: DataFrame, idCol: String): DataFrame = {
    val a = bandsDf.select(col("band"), col("sig"), col(idCol).as("a"))
    val b = bandsDf.select(col("band"), col("sig"), col(idCol).as("b"))
    a.join(b, Seq("band", "sig"))
      .where(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_bands"))
  }

  /** Full MinHash-LSH near-dedup: signatures → bands → candidates →
    * exact-Jaccard verification on shingle sets, keep pairs ≥ threshold. */
  /** Materialize char shingles as `_sh` via the native kernel (the
    * higher-order form is interpreted per element; normalization is
    * still hoisted so the regex runs once per row). */
  def withCharShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.withColumn("_norm", TextAnalysis.normText(col(textCol)))
      .select(col(idCol),
        graft.functions.ShingleFunctions.char_shingles(col("_norm"), n).as("_sh"))

  /** Materialize word shingles as `_sh` (native kernel over hoisted tokens). */
  def withWordShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .select(col(idCol),
        graft.functions.ShingleFunctions.word_shingles(col("_toks"), n).as("_sh"))

  /** Word-shingle variant — far more discriminative on shared-vocabulary
    * corpora than char n-grams (measured cross-doc max ≈ 0.02 vs 0.68 on
    * the synthetic fixture). */
  def minHashNearDupsWords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleWords: Int = 3,
      jaccardThreshold: Double = 0.8): DataFrame =
    minHashNearDupsShingled(
      withWordShingles(df, idCol, textCol, shingleWords),
      idCol, numHashes, bands, jaccardThreshold)

  def minHashNearDupsShingled(
      shingled: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      jaccardThreshold: Double): DataFrame =
    nearDupSizesShingled(shingled, idCol, numHashes, bands)
      .withColumn("jaccard", col("i_size").cast("double") / col("u_size"))
      .where(col("jaccard") >= jaccardThreshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))

  /** Candidate pairs with exact intersection/union SIZES (ints — lets
    * callers threshold with exact integer arithmetic, no float compare).
    * Input: (id, `_sh` shingle array) from [[withCharShingles]] /
    * [[withWordShingles]].
    *
    * `sizeRatioPrefilter = Some((n, d))` applies the EXACT necessary
    * condition for Jaccard ≥ n/d before the expensive verify: i_size ≤
    * min(|A|,|B|) and u_size ≥ max(|A|,|B|), so J ≥ n/d forces
    * d·min(|A|,|B|) ≥ n·max(|A|,|B|). Checking it costs two joins of ONE
    * long per doc, and every pair it drops skips the two array-payload
    * joins and the sorted-merge — the candidate-∝ bottleneck at the
    * scaled tier. LOSSLESS for callers that post-filter at n/d (the
    * surviving set provably contains every pair with J ≥ n/d that
    * banding surfaced); callers that keep sub-threshold candidate sizes
    * must leave it None. */
  def nearDupSizesShingled(
      shingled: DataFrame,
      idCol: String,
      numHashes: Int,
      bands: Int,
      sizeRatioPrefilter: Option[(Int, Int)] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    sizeRatioPrefilter.foreach { case (n, d) =>
      require(n > 0 && d > 0 && n <= d,
        s"sizeRatioPrefilter must be a Jaccard ratio in (0,1], got $n/$d")
    }
    val sigs = minHashSignaturesBy(shingled, idCol, col("_sh"), numHashes)
    val allCands = candidatePairs(lshBands(sigs, idCol, bands, numHashes / bands), idCol)
      .select("a", "b")
    // verify on SORTED per-shingle hashes, not the string arrays: the two
    // payload joins shuffle 8 bytes per shingle instead of the shingle
    // text, and each candidate costs one O(n) merge instead of
    // array_intersect twice (measured 13.7 s → 2.6 s over 833k candidates
    // at the ×20 scaled tier). Sizes are exact modulo 64-bit collisions.
    val hashed = shingled.select(col(idCol),
      graft.functions.ShingleFunctions.sorted_shingle_hashes(col("_sh")).as("_hs"))
    val cands = sizeRatioPrefilter match {
      case None => allCands
      case Some((n, d)) =>
        val sizes = hashed.select(col(idCol), size(col("_hs")).cast("long").as("_n"))
        allCands
          .join(sizes.select(col(idCol).as("a"), col("_n").as("_na")), Seq("a"))
          .join(sizes.select(col(idCol).as("b"), col("_n").as("_nb")), Seq("b"))
          .where(least(col("_na"), col("_nb")) * d >= greatest(col("_na"), col("_nb")) * n)
          .select("a", "b")
    }
    cands
      .join(hashed.select(col(idCol).as("a"), col("_hs").as("_ha")), Seq("a"))
      .join(hashed.select(col(idCol).as("b"), col("_hs").as("_hb")), Seq("b"))
      .withColumn("i_size",
        graft.functions.ShingleFunctions.sorted_intersect_size(col("_ha"), col("_hb")))
      .select(col("a"), col("b"), col("i_size"),
        (size(col("_ha")) + size(col("_hb")) - col("i_size")).as("u_size"))
  }

  /** 64-bit SimHash: per-bit majority vote of token hashes, one native-
    * kernel pass per row — map-only, no explode/groupBy shuffle. Docs
    * with no tokens are excluded (matching the previous explode-based
    * shape, which never emitted a row for them). */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("_toks", TextAnalysis.tokens(col(textCol)))
      .where(size(col("_toks")) > 0)
      .select(col(idCol),
        graft.functions.ShingleFunctions.simhash(col("_toks")).as("simhash"))

  private[ops] def popcount64(c: Column): Column = {
    // SWAR popcount as Catalyst expressions (no UDF)
    val m1 = lit(0x5555555555555555L); val m2 = lit(0x3333333333333333L)
    val m4 = lit(0x0f0f0f0f0f0f0f0fL); val h01 = lit(0x0101010101010101L)
    val x1 = c - shiftright(c, 1).bitwiseAND(m1)
    val x2 = x1.bitwiseAND(m2) + shiftright(x1, 2).bitwiseAND(m2)
    val x3 = (x2 + shiftright(x2, 4)).bitwiseAND(m4)
    shiftright(x3 * h01, 56).bitwiseAND(lit(0x7fL))
  }

  /** Pigeonhole-minimal band chunks for a 64-bit hash at Hamming ≤ h:
    * h+1 disjoint chunks covering all 64 bits — a pair within distance
    * h differs in ≤ h chunks, so at least one chunk agrees exactly.
    * Round-18: the chunk count now FOLLOWS the threshold instead of a
    * fixed 4×16 — at h = 0 the single band is the full hash, so
    * candidate volume collapses from Σ(16-bit-bucket)² to exact-equal
    * groups (p353's collision-dense fixture spent 4.8 of its 7.8 s
    * emitting and re-filtering 16-bit-band candidates that the full-
    * hash band never generates); at h = 2 three ~21-bit chunks both
    * shrink the explode ×4→×3 and widen each signature. h = 3 keeps
    * the historical 4×16 exactly. Candidates shrink, the verified
    * output is UNCHANGED (completeness holds per threshold; the final
    * popcount filter is the same). */
  private def hashBandChunks(h: Column, maxHamming: Int): Seq[Column] = {
    val nBands = maxHamming + 1
    val width = 64 / nBands
    (0 until nBands).map { i =>
      val lo = i * width
      val w = if (i == nBands - 1) 64 - lo else width
      val sig = if (w >= 64) h else
        shiftright(h, lo).bitwiseAND(lit((1L << w) - 1L))
      struct(lit(i).as("band"), sig.as("sig"))
    }
  }

  /** SimHash near-dup pairs: band the 64-bit hash into maxHamming+1
    * disjoint chunks (any pair within Hamming distance ≤ maxHamming of
    * the full hash must agree exactly on at least one chunk —
    * pigeonhole), bucket-join on chunks, verify true Hamming distance. */
  def simHashNearDups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simHashNearDups: banding covers Hamming 0..3, got $maxHamming")
    val sh = simHash(df, idCol, textCol)
    val chunks = hashBandChunks(col("simhash"), maxHamming)
    val banded = sh.select(col(idCol), col("simhash"), explode(array(chunks: _*)).as("bk"))
      .select(col(idCol), col("simhash"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    val a = banded.select(col("band"), col("sig"), col(idCol).as("a"), col("simhash").as("_ha"))
    val b = banded.select(col("band"), col("sig"), col(idCol).as("b"), col("simhash").as("_hb"))
    a.join(b, Seq("band", "sig"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"),
        popcount64(expr("_ha ^ _hb")).as("hamming"))
      // verify BEFORE the dedup aggregate: dropping over-distance
      // candidates first shrinks the distinct's shuffle (same output —
      // hamming is a function of the (a, b) hashes)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** GENERIC banded Hamming near-dup join over ANY 64-bit perceptual
    * key — the [[simHashNearDups]] candidate discipline factored out so
    * image dHash ([[graft.ops.Multimodal.imageDHashScan]]), audio
    * chromaprints or any future 64-bit fingerprint reuses it. NULL
    * hashes (undecodable members) drop out before the join. Returns
    * (a, b, hamming) with a < b. Repeated (id, hash) rows count once.
    * An id may sit under several hashes: it never pairs with itself,
    * but it pairs with another id once per (hash, hash) combination
    * within `maxHamming`; callers with such ids reduce the result to one
    * row per (a, b).
    *
    * Round-18 shape — the LSH citizens are DISTINCT hashes, not
    * members: crawl-duplicate corpora carry many members per identical
    * hash (the p349 fixture: 6,250 members, 86 distinct hashes), and a
    * member-level band join multiplies every bucket quadratically —
    * the same candidate is popcount-verified |group_a|·|group_b| times
    * (measured: 2.9 s of p349's pair stage). So: dedup to distinct
    * hashes, band THOSE into maxHamming+1 disjoint chunks (pigeonhole:
    * Hamming ≤ maxHamming ⇒ at least one chunk agrees — candidate
    * generation stays COMPLETE; see [[hashBandChunks]]), verify the
    * true Hamming once per HASH pair via the SWAR popcount, then
    * expand the surviving hash pairs back through the (id, hash)
    * membership table — each member pair materializes exactly once, so
    * no distinct is needed. Same-hash member pairs (Hamming 0) come
    * from one self-equi-join on the hash. The tiny (id, hash)
    * projection is persisted so the hash derivation (often a full
    * media decode) runs once, not once per consumer — the guide-§8
    * move: decide on small proxies, attach the decision to the members
    * in one pass. */
  def hashNearDups(
      df: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"hashNearDups: banding covers Hamming 0..3, got $maxHamming")
    val src = df.where(col(hashCol).isNotNull)
      .select(col(idCol), col(hashCol).cast("long").as("_h"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunks = hashBandChunks(col("_h"), maxHamming)
    val reps = src.select(col("_h")).distinct()
    val banded = reps.select(col("_h"), explode(array(chunks: _*)).as("bk"))
      .select(col("_h"), col("bk.band").as("band"), col("bk.sig").as("sig"))
    val hashPairs = banded.select(col("band"), col("sig"), col("_h").as("_ha"))
      .join(banded.select(col("band"), col("sig"), col("_h").as("_hb")),
        Seq("band", "sig"))
      .where(col("_ha") < col("_hb"))
      .select(col("_ha"), col("_hb"), popcount64(expr("_ha ^ _hb")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
    // cross-group expansion: each unordered hash pair appears once
    // (_ha < _hb), so each member pair appears once — least/greatest
    // orders it, and a < b drops the self-pair of an id that sits under
    // both hashes
    val cross = hashPairs
      .join(src.select(col(idCol).as("_ia"), col("_h").as("_ha")), Seq("_ha"))
      .join(src.select(col(idCol).as("_ib"), col("_h").as("_hb")), Seq("_hb"))
      .select(least(col("_ia"), col("_ib")).as("a"),
        greatest(col("_ia"), col("_ib")).as("b"), col("hamming"))
      .where(col("a") < col("b"))
    // within-group pairs: identical hashes are Hamming 0 ≤ any threshold
    val same = src.as("x")
      .join(src.as("y"),
        col("x._h") === col("y._h") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .select(col(s"x.$idCol").as("a"), col(s"y.$idCol").as("b"),
        lit(0L).as("hamming"))
    cross.unionByName(same)
  }

  /** Incremental ingestion dedup: classify each doc of a NEW batch
    * against an EXISTING corpus — `exact` (identical normalized content
    * fingerprint), `near` (word-shingle Jaccard ≥ jNum/jDen via an LSH
    * band join), else `new` — with the minimum matching corpus id as
    * evidence. The production shape for continuous crawls: candidate
    * generation is batch×corpus through shared band buckets only (never
    * batch² or corpus², and the big corpus is touched once per batch);
    * at steady state persist the corpus signatures/bands and this is a
    * delta join. */
  def incrementalDedup(
      batch: DataFrame,
      corpus: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      numHashes: Int = 64,
      bands: Int = 16,
      shingleWords: Int = 3,
      jNum: Int = 4,
      jDen: Int = 5): DataFrame = {
    val bs = withWordShingles(batch, idCol, textCol, shingleWords)
    val cs = withWordShingles(corpus, idCol, textCol, shingleWords)
    val fp = TextAnalysis.fingerprint(col(textCol))
    val exact = batch.select(col(idCol), fp.as("_fp"))
      .join(corpus.select(col(idCol).as("_cid"), fp.as("_fp")), Seq("_fp"))
      .groupBy(col(idCol)).agg(min("_cid").as("exact_id"))
    // steady-state crawl batches are dominated by re-fetched exact dups:
    // anti-join them out before the signature/band/verify work their
    // (unused) near_id would cost
    val bsNew = bs.join(exact.select(col(idCol)), Seq(idCol), "left_anti")
    val rows = numHashes / bands
    val bb = lshBands(minHashSignaturesBy(bsNew, idCol, col("_sh"), numHashes), idCol, bands, rows)
      .select(col("band"), col("sig"), col(idCol).as("bid"))
    val cb = lshBands(minHashSignaturesBy(cs, idCol, col("_sh"), numHashes), idCol, bands, rows)
      .select(col("band"), col("sig"), col(idCol).as("cid"))
    // same hashed-payload verify as nearDupSizesShingled: slim long
    // arrays through the joins, one merge-intersect per candidate; the
    // size-ratio prefilter (exact J ≥ jNum/jDen necessary condition —
    // see nearDupSizesShingled) drops candidates before the array joins
    val sh = graft.functions.ShingleFunctions.sorted_shingle_hashes(col("_sh"))
    val isize = graft.functions.ShingleFunctions.sorted_intersect_size(col("_sb"), col("_sc"))
    val bH = bs.select(col(idCol).as("bid"), sh.as("_sb"))
    val cH = cs.select(col(idCol).as("cid"), sh.as("_sc"))
    val near = bb.join(cb, Seq("band", "sig")).select("bid", "cid").distinct()
      .join(bH.select(col("bid"), size(col("_sb")).cast("long").as("_zb")), Seq("bid"))
      .join(cH.select(col("cid"), size(col("_sc")).cast("long").as("_zc")), Seq("cid"))
      .where(least(col("_zb"), col("_zc")) * jDen >= greatest(col("_zb"), col("_zc")) * jNum)
      .select("bid", "cid")
      .join(bH, Seq("bid"))
      .join(cH, Seq("cid"))
      .where(isize * jDen >= (size(col("_sb")) + size(col("_sc")) - isize) * jNum)
      .groupBy("bid").agg(min("cid").as("near_id"))
    batch.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near.withColumnRenamed("bid", idCol), Seq(idCol), "left")
      .select(col(idCol),
        when(col("exact_id").isNotNull, "exact")
          .when(col("near_id").isNotNull, "near")
          .otherwise("new").as("status"),
        coalesce(col("exact_id"), col("near_id")).as("match_id"))
  }

  /** Connected components over an undirected pair list — the step that
    * turns near-dup PAIRS into dedup CLUSTERS (a~b, b~c ⇒ {a,b,c} is one
    * group with one canonical survivor). Iterative min-label propagation:
    * each round every node takes the min label among itself and its
    * neighbors; converges in ≤ diameter rounds (near-dup graphs are
    * star/clique-shaped, so 2–3 rounds in practice; `maxIter` guards
    * adversarial chains). Each round is one co-partitioned join + one
    * partial-agg shuffle on the node id — never materializes anything
    * bigger than the edge list — and `localCheckpoint` truncates the
    * iterative lineage so plan analysis stays O(1) per round (on a real
    * cluster with unreliable executors, point `spark.checkpoint.dir` at
    * durable storage and swap in `checkpoint`).
    *
    * Returns (id, component) for every endpoint, component = min id
    * reachable. Input columns `a`, `b`; orientation irrelevant.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val edges = pairs.select(col("a").cast("long").as("src"), col("b").cast("long").as("dst"))
    val sym = edges.union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // localCheckpoint(eager), NOT persist: the union below references
      // `labels` twice, so without LINEAGE TRUNCATION the logical plan
      // doubles per round, and with data-dependent round counts
      // (~diameter, unbounded) the per-round analysis/AQE-planning cost
      // explodes — replacing these checkpoints with lazy persists was
      // tried this round and made the cluster-composition gates 2–4×
      // SLOWER (p380 3.6 s → 14.9 s median; its explain dump grew to
      // 201k lines). The statically-bounded loops (kCorePeel, bfsDepths,
      // 3 rounds by construction) are where the lazy-persist trick pays;
      // a diameter-bounded-by-data loop is where it does not.
      // (Pointer doubling — label(label(v)) folded into the same min —
      // was also tried and reverted: gate graphs are low-diameter twin
      // clusters, so it saved at most one round while adding a
      // label-keyed self-join shuffle to every round; p29 measured
      // 1.7 s → 4.5 s with it.)
      var labels = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("component"))
        .localCheckpoint(true)
      var changed = 1L
      var it = 0
      while (changed > 0 && it < maxIter) {
        val msgs = sym.join(labels.select(col("id").as("src"), col("component")), Seq("src"))
          .select(col("dst").as("id"), col("component"))
        // carry each node's OWN (previous) label through the same
        // aggregation that computes the new min, so convergence needs no
        // separate join-with-old-labels job per round — the changed count
        // is a trivial scan of the just-checkpointed blocks
        val next = labels.select(col("id"), col("component"), lit(true).as("_own"))
          .union(msgs.select(col("id"), col("component"), lit(false).as("_own")))
          .groupBy("id").agg(
            min("component").as("component"),
            min(when(col("_own"), col("component"))).as("_prev"))
          .select(col("id"), col("component"), (col("component") < col("_prev")).as("_changed"))
          .localCheckpoint(true)
        changed = next.where(col("_changed")).count()
        labels = next.select("id", "component")
        it += 1
      }
      // silent non-convergence would hand callers WRONG labels (one
      // component reported as several) — refuse instead
      if (changed > 0) throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($changed labels still changing) — the graph diameter exceeds " +
          s"maxIter; raise maxIter (propagation needs ~diameter rounds)")
      labels
    } finally sym.unpersist()
  }

  /** Cluster summary for a near-dup pair list: every clustered doc with
    * its component (= canonical keep id, the cluster min) and the cluster
    * size. Docs in no pair are implicitly their own singleton cluster and
    * are not emitted. */
  def dedupClusters(pairs: DataFrame): DataFrame = {
    val comps = connectedComponents(pairs)
    val sizes = comps.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comps.join(sizes, Seq("component"))
      .select(col("id"), col("component"), col("cluster_size"))
  }

  /** EFFECTIVE TOKEN BUDGET after dedup — the headline a curation run
    * reports upward: "the corpus claims N tokens; after near-dup
    * removal the model actually sees E." Excess = per cluster, every
    * member's tokens except the canonical keeper's — the min id AMONG
    * MEMBERS PRESENT IN `docs` (the [[dedupClusters]] cluster-min when
    * the canonical doc survives upstream filtering, the next-smallest
    * present id when it was quality-filtered away — the same
    * missing-member case [[leakageSafeSplit]] documents; a cluster with
    * NO member in `docs` contributes nothing). Swap [[keepBest]]
    * upstream for a quality keeper, same algebra.
    *
    * Shape: token counts are one map-only pass; cluster labels are the
    * (≪ corpus) component table; the excess is a component-keyed
    * partial agg over CLUSTERED rows only. Returns ONE row (n_docs,
    * n_tokens, n_clusters, n_removable_docs, dup_excess_tokens,
    * effective_tokens, savings_ppm). */
  def effectiveTokens(
      docs: DataFrame,
      pairs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      TextAnalysis.tokenCount(col(textCol)).cast("long").as("_t"))
    val comp = connectedComponents(pairs)
    val perCluster = toks.join(comp, Seq("id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("_n"), sum(col("_t")).as("_sum"),
        // keeper = min id PRESENT in docs (struct min orders by id; ids
        // are unique) — never NULL, so a cluster whose canonical min-id
        // doc was filtered upstream still subtracts a real keeper
        // instead of silently dropping its excess term
        min(struct(col("id"), col("_t"))).getField("_t").as("_keep"))
    val clusterTot = perCluster.agg(
      count(lit(1)).as("n_clusters"),
      sum(col("_n") - 1).as("n_removable_docs"),
      sum(col("_sum") - col("_keep")).as("dup_excess_tokens"))
    toks.agg(count(lit(1)).as("n_docs"), sum(col("_t")).as("n_tokens"))
      .crossJoin(broadcast(clusterTot))
      .withColumn("n_clusters", coalesce(col("n_clusters"), lit(0L)))
      .withColumn("n_removable_docs", coalesce(col("n_removable_docs"), lit(0L)))
      .withColumn("dup_excess_tokens", coalesce(col("dup_excess_tokens"), lit(0L)))
      .withColumn("effective_tokens", col("n_tokens") - col("dup_excess_tokens"))
      .withColumn("savings_ppm",
        when(col("n_tokens") === 0, lit(null).cast("long"))
          .otherwise(expr("CAST(dup_excess_tokens * 1000000 div n_tokens AS BIGINT)")))
      .select("n_docs", "n_tokens", "n_clusters", "n_removable_docs",
        "dup_excess_tokens", "effective_tokens", "savings_ppm")
  }

  /** JACCARD THRESHOLD SWEEP — the dedup-tuning diagnostic: how many
    * near-dup pairs (and how many documents they touch) exist at each
    * candidate threshold? Run BEFORE committing to a θ: a cliff between
    * 70 and 80 means θ=0.8 is load-bearing; a flat curve means the
    * corpus doesn't care.
    *
    * EXACT by construction: pairs come from the shared-shingle
    * equi-join (any pair with J > 0 shares a gram — no LSH banding, so
    * no recall falloff below the banding's design point, which is
    * precisely what a sweep below θ_design needs). That makes this a
    * DIAGNOSTIC-TIER op: Σ df(g)² work, meant for a corpus sample or a
    * df-capped gram set at 100 TB (the PPJoin prefix filter at
    * min(thresholds) is the exact-at-scale alternative when the sweep
    * must run on everything). The pair table persists once and feeds
    * every tier's two aggregates; thresholds compare as
    * `i·100 ≥ t·u` — pure integers.
    *
    * Returns (threshold_pct, n_pairs, n_docs), threshold-ordered. */
  def jaccardThresholdSweep(
      docs: DataFrame,
      thresholdsPct: Seq[Int] = Seq(50, 60, 70, 80, 90),
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleWords: Int = 3): DataFrame = {
    require(thresholdsPct.nonEmpty, "jaccardThresholdSweep: need thresholds")
    require(thresholdsPct.forall(t => t > 0 && t <= 100),
      s"jaccardThresholdSweep: thresholds are percents in (0, 100], got $thresholdsPct")
    val sh = withWordShingles(docs, idCol, textCol, shingleWords)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = sh.select(col(idCol).as("_id"), explode(col("_sh")).as("_g"))
    val inter = e.as("x")
      .join(e.as("y"), col("x._g") === col("y._g") && col("x._id") < col("y._id"))
      .groupBy(col("x._id").as("_a"), col("y._id").as("_b"))
      .agg(count(lit(1)).as("_i"))
    val sizes = sh.select(col(idCol), size(col("_sh")).cast("long").as("_n"))
    val pairs = inter
      .join(sizes.select(col(idCol).as("_a"), col("_n").as("_na")), Seq("_a"))
      .join(sizes.select(col(idCol).as("_b"), col("_n").as("_nb")), Seq("_b"))
      .select(col("_a"), col("_b"), col("_i"),
        (col("_na") + col("_nb") - col("_i")).as("_u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    thresholdsPct.sorted.map { t =>
      val sel = pairs.where(col("_i") * 100 >= lit(t.toLong) * col("_u"))
      sel.agg(count(lit(1)).as("n_pairs"))
        .crossJoin(
          sel.select(explode(array(col("_a"), col("_b"))).as("_d"))
            .agg(countDistinct(col("_d")).as("n_docs")))
        .select(lit(t).as("threshold_pct"), col("n_pairs"), col("n_docs"))
    }.reduce(_ unionByName _).orderBy("threshold_pct")
  }

  /** GROUP-AWARE K-FOLD assignment — the leakage-safe cross-validation
    * split for near-duplicated corpora: every member of a near-dup
    * cluster lands in the SAME fold (train/eval never see two copies of
    * one document across the boundary — the p34 leakage rule, extended
    * from one split to k folds). The fold is a pure content function —
    * `sha256("fold|" + rep)` first two hex digits mod k, where rep is
    * the cluster's canonical min id (singletons: the doc's own id) — so
    * reshuffles, retries and engines all agree, and adding documents
    * never moves existing folds (incremental-friendly, the p35
    * property).
    *
    * Shape: the cluster labels are [[connectedComponents]] over the
    * (≪ corpus) edge list; the corpus-sized work is ONE left join of
    * ids against that bounded label table plus a map-only hash.
    * Returns (idCol, rep, fold), id-ordered. */
  def groupKFold(
      docs: DataFrame,
      pairs: DataFrame,
      k: Int,
      idCol: String = "doc_id"): DataFrame = {
    require(k >= 2, s"groupKFold: need k >= 2, got $k")
    val comp = connectedComponents(pairs)
      .select(col("id").as(idCol), col("component"))
    docs.select(col(idCol))
      .join(comp, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("component"), col(idCol)))
      .withColumn("fold",
        pmod(conv(substring(
          sha2(concat(lit("fold|"), col("rep").cast("string")), 256), 1, 2),
          16, 10).cast("long"), lit(k.toLong)))
      .select(col(idCol), col("rep"), col("fold"))
      .orderBy(idCol)
  }

  /** Canonical survivor per near-dup cluster by QUALITY — production
    * dedup keeps the best copy, not the smallest id. `quality` supplies
    * (idCol, scoreCol); the keeper is the cluster's argmax score with id
    * ascending as the deterministic tie-break (exact duplicates have
    * equal scores). One window + one aggregate, both keyed on the
    * component — the second reuses the first's partitioning, and only
    * CLUSTERED rows (≪ corpus) ever enter. Returns one row per cluster:
    * (component, cluster_size, keep_id, keep_score).
    *
    * `quality` MUST cover every id appearing in `pairs`: a clustered id
    * with no score row (or a NULL score) fails the job loudly — an inner
    * join would instead silently shrink `cluster_size` (diverging from
    * `dedupClusters` on the same pairs) or drop whole clusters. */
  def keepBest(
      pairs: DataFrame,
      quality: DataFrame,
      idCol: String,
      scoreCol: String): DataFrame = {
    val comps = connectedComponents(pairs)
    val scored = comps.join(
        quality.select(col(idCol).cast("long").as("id"), col(scoreCol).as("_score")),
        Seq("id"), "left")
      .withColumn("_score",
        when(col("_score").isNull,
          raise_error(concat(
            lit("keepBest: no quality score for clustered id "), col("id"))))
          .otherwise(col("_score")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component").orderBy(col("_score").desc, col("id").asc)
    scored.withColumn("_rn", row_number().over(w))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("cluster_size"),
        max(when(col("_rn") === 1, col("id"))).as("keep_id"),
        max(when(col("_rn") === 1, col("_score"))).as("keep_score"))
  }

  /** Exact n-gram Jaccard between explicit pairs (e.g. consecutive ids) —
    * the verification primitive exposed standalone. */
  def ngramJaccard(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairWith: Column => Column,
      n: Int = 3): DataFrame = {
    val shingled = withCharShingles(df, idCol, textCol, n)
    val g = shingled.select(col(idCol).as("a"), col("_sh").as("_ga"))
    val h = shingled.select(col(idCol).as("b"), col("_sh").as("_gb"))
    g.join(h, h("b") === pairWith(g("a")))
      .select(col("a"), col("b"),
        round(size(array_intersect(col("_ga"), col("_gb"))).cast("double") /
          size(array_union(col("_ga"), col("_gb"))), 6).as("jaccard"))
  }

  /** SPAN-level dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better"): find every maximal token span covered by
    * `n`-token windows that occur ≥ `minCount` times ANYWHERE in the
    * corpus — the cut list for removing boilerplate/license blocks and
    * verbatim cross-document repeats that document-level near-dedup
    * (J ≥ 0.8 on whole docs) cannot see.
    *
    * Distributed shape — the Spark substitute for the paper's
    * single-machine suffix array: a map-only pass emits each document's
    * position-indexed window hashes via the O(len) rolling-hash kernel
    * ([[graft.functions.RollingWindowHashesExpression]] — each token
    * hashed once, windows slide in O(1); neither the window text NOR an
    * md5 string is ever materialized, the shuffle key is 8 bytes).
    * Window-hash document frequencies come from a COUNT-ONLY aggregate
    * (partial map-side combine, one long per hash — the
    * [[graft.ops.CorpusOps.boilerplateLines]] df-table recipe); hashes
    * with count ≥ `minCount` then LEFT-SEMI join back onto a second
    * map-only emission of the (doc, pos, hash) stream to keep hit
    * positions only. No per-hash occurrence array ever exists: a
    * ubiquitous boilerplate window (license header, nav footer) that
    * repeats 10⁷ times across 100 TB contributes 10⁷ spread-out probe
    * rows — AQE's skew-join split handles the hot key — instead of one
    * multi-GB `collect_list` row pinned to a single executor (the shape
    * this replaced). Runs of consecutive hit positions fold into maximal
    * spans with the classic `pos − row_number()` island trick — one
    * per-document window over hit rows only (≪ corpus). All work is
    * ∝ corpus token count, never quadratic; the corpus is scanned twice,
    * both passes map-only, trading one cheap re-scan for the OOM hazard.
    *
    * Returns (idCol, span_start, span_end, n_windows): token-index span
    * [span_start, span_end) whose every length-`n` window repeats,
    * covering `n_windows` windows. Docs shorter than `n` tokens emit
    * nothing; `minCount` counts occurrences anywhere (a within-document
    * repeat is still a repeat, matching the paper's any-duplicate rule). */
  def repeatedSpans(
      docs: DataFrame,
      n: Int = 20,
      minCount: Long = 2L,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n > 0, s"repeatedSpans: window must be positive, got $n")
    require(minCount >= 2, s"repeatedSpans: minCount < 2 marks every window, got $minCount")
    val w = docs
      .select(col(idCol),
        posexplode(graft.functions.ShingleFunctions.rolling_window_hashes(
          TextAnalysis.tokens(col(textCol)), n)).as(Seq("pos", "_wh")))
    // Df table first (count only, partial-agg), then semi-join the hot
    // hashes back onto the exploded stream: no per-hash occurrence array
    // is ever built, so a 10⁷-occurrence boilerplate window cannot pin a
    // multi-GB row to one executor.
    val hot = w
      .groupBy("_wh")
      .agg(count(lit(1)).as("_cnt"))
      .where(col("_cnt") >= minCount)
      .select("_wh")
    val hits = w
      .join(hot, Seq("_wh"), "left_semi")
      .select(col(idCol), col("pos"))
    val wdw = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    hits
      .withColumn("_grp", col("pos") - row_number().over(wdw))
      .groupBy(col(idCol), col("_grp"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(n)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** APPLY a [[repeatedSpans]] cut list: drop every token whose position
    * falls inside a span, emit the surviving text's size and md5 — the
    * step that turns the span report into a cleaned corpus (Lee et al.'s
    * actual dedup, not just its diagnosis).
    *
    * Shape: the span list aggregates to ≤ a few structs per affected doc
    * (spans are merged maximal islands, disjoint by construction), joins
    * back on the doc id, and the cut itself is a higher-order filter
    * over the token array — map-only after one doc-keyed shuffle of the
    * (tiny) span side. Docs without tokens emit nothing (mirrors the
    * span scan); docs whose every token is cut emit `md5("")`.
    * Returns (idCol, n_tokens, n_cut, clean_md5). */
  def applySpanCuts(
      docs: DataFrame,
      spans: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spanList = spans
      .groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("_spans"))
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) > 0)
      .join(spanList, Seq(idCol), "left")
      .withColumn("_spans",
        coalesce(col("_spans"), array().cast("array<struct<span_start:int,span_end:int>>")))
      .withColumn("_kept", expr(
        "filter(transform(sequence(0L, size(_toks) - 1), i -> struct(i AS i, _toks[CAST(i AS INT)] AS tok)), " +
          "x -> NOT exists(_spans, s -> x.i >= s.span_start AND x.i < s.span_end))"))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_cut"),
        md5(concat_ws(" ", expr("transform(_kept, x -> x.tok)"))).as("clean_md5"))
  }

  /** Suffix→prefix continuation detection: find ordered doc pairs
    * (a, b) where a's last `n` tokens equal b's first `n` tokens — the
    * split-page/truncated-scrape reassembly signal (web extractors
    * routinely cut one logical document into consecutive records;
    * doc-level near-dedup never links the halves because they barely
    * overlap). One map-only pass computes each doc's two boundary keys;
    * candidates come from a single equi-join on the key — never
    * all-pairs. A hot boilerplate boundary (same footer everywhere)
    * becomes a skewed join key at scale: salt it or pre-filter keys
    * with count > threshold (both shapes exist in [[graft.ops.SkewJoin]]).
    * Returns (a, b) with a ≠ b, exact token-sequence equality. */
  def continuationPairs(
      docs: DataFrame,
      n: Int = 10,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 1, "continuationPairs: n must be >= 1")
    val base = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) >= n)
    val pre = base.select(col(idCol).as("b"),
      array_join(slice(col("_toks"), lit(1), lit(n)), " ").as("_k"))
    val suf = base.select(col(idCol).as("a"),
      array_join(slice(col("_toks"), size(col("_toks")) - lit(n) + 1, lit(n)), " ").as("_k"))
    suf.join(pre, Seq("_k"))
      .where(col("a") =!= col("b"))
      .select(col("a"), col("b"))
  }

  /** Set-CONTAINMENT join (prefix filtering, the PPJoin family): every
    * DIRECTED pair (a → b) whose distinct word-shingle overlap covers at
    * least `thresholdMicro` ppm of A's shingles — the detector for a
    * document embedded verbatim inside a larger one, which Jaccard
    * near-dedup is structurally blind to (a 100-line file quoted inside
    * a 10,000-line one has J ≈ 0.01 but containment 1.0, so MinHash-LSH
    * banding on J never surfaces it).
    *
    * Prefix-filter soundness: order A's grams by ascending GLOBAL
    * document frequency (ties by gram); if B shares none of A's first
    * `⌊|A|·(1−θ)⌋ + 1` grams then `|A∩B| ≤ |A| − ⌊|A|(1−θ)⌋ − 1 <
    * θ·|A|`, so probing only prefixes against the full inverted gram
    * index finds every qualifying pair — no recall loss. Rarity-first
    * ordering makes the candidate volume `Σ_g prefix_df(g)·df(g)`,
    * dominated by RARE grams; the stop-gram cap (drop grams above a df
    * ceiling from BOTH sides of the candidate join) is the standard
    * 100 TB relief valve if a corpus has mega-frequent boilerplate
    * shingles. The ceiling comes in two forms: `dfCeiling` (absolute
    * df) and `dfCeilingFraction` (fraction of the corpus DOC COUNT,
    * resolved in-plan via a 1-row count aggregate broadcast onto the
    * gram-frequency table — no driver action). The ×50 scale study
    * proved absolute ceilings ROT: boilerplate df grows ∝N, so a cap
    * tuned at one scale stops engaging (quadratic candidates, measured
    * 30.9 s vs 12.3 s at ×50) or over-engages at another, while a
    * RELATIVE ceiling excludes the same gram SET at every replication
    * factor (df/N is scale-free) — prefer the fraction form for any
    * corpus whose size you don't control. When both are given the
    * effective ceiling is their MAX (the absolute value acts as a
    * small-corpus floor under the relative cap, so tiny test corpora
    * don't cap away legitimate grams). The cap's loss contract: the prefix filter
    * stays provably complete over the stop-gram-free gram universe, so
    * the ONLY missable qualifying pairs are those whose containment
    * restricted to sub-ceiling grams falls below θ — i.e. pairs whose
    * evidence is boilerplate-only; surfaced pairs still score EXACTLY
    * (the verify stage always runs on the full shingle sets). With a
    * ceiling at or above every df the output is identical to the
    * uncapped path (gated: p275). Verification reuses the sorted-hash
    * merge kernel (8-byte payloads, O(n) per candidate). All integer
    * arithmetic.
    *
    * Returns directed (a, b, i_size, size_a, size_b, cont_micro ≥ θ). */
  def containmentPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleSize: Int = 3,
      thresholdMicro: Long = 900000L,
      dfCeiling: Option[Long] = None,
      dfCeilingFraction: Option[Double] = None): DataFrame = {
    require(thresholdMicro > 0 && thresholdMicro <= 1000000L,
      s"containmentPairs: threshold must be ppm in (0, 1e6], got $thresholdMicro")
    require(dfCeiling.forall(_ >= 1L),
      s"containmentPairs: dfCeiling must be >= 1, got $dfCeiling")
    require(dfCeilingFraction.forall(f => f > 0.0 && f <= 1.0),
      s"containmentPairs: dfCeilingFraction must be in (0, 1], got $dfCeilingFraction")
    val capped = dfCeiling.nonEmpty || dfCeilingFraction.nonEmpty
    // persist the shingled corpus (round-18): the tokenize+shingle
    // derivation feeds SEVEN consumers (gram df, the prefix windows, the
    // inverted index, the two size prefilter sides and the two verify
    // sides) and nothing below it shares an exchange they could reuse —
    // the round-17 executed plan carried 14 parquet scans, each paying
    // the regex tokenization again, and AQE re-estimated the join sides
    // from scratch per scan (the scaled tier's med ≈ 2× min variance).
    // MEMORY_AND_DISK: eviction degrades to recompute; the harness reaps
    // between queries. Storage ∝ the shingle corpus — the same bound the
    // downstream joins already carry.
    val sh = withWordShingles(docs, idCol, textCol, shingleSize)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val grams = sh.select(col(idCol), explode(col("_sh")).as("_g"))
    val dfreq = grams.groupBy("_g").agg(count(lit(1)).as("_df"))
    // stop-gram cap: the kept-gram table drives BOTH the prefix windows
    // (so _n / prefix length are consistent with the reduced universe —
    // that consistency is what keeps the filter complete over it) and
    // the inverted index side. The relative ceiling resolves IN-PLAN:
    // floor(fraction · n_docs) rides a 1-row broadcast cross join, so
    // no Spark job fires at construction and the same plan serves every
    // scale (the excluded gram set is replication-invariant: df and the
    // ceiling both scale ∝N).
    val kept =
      if (!capped) dfreq
      else {
        val absFloor = lit(dfCeiling.getOrElse(1L))
        val ceil = dfCeilingFraction match {
          case None => absFloor
          case Some(f) =>
            greatest(absFloor, floor(lit(f) * col("_ndocs")).cast("long"))
        }
        val base = dfCeilingFraction match {
          case None => dfreq
          case Some(_) =>
            dfreq.crossJoin(broadcast(docs.agg(count(lit(1)).as("_ndocs"))))
        }
        base.where(col("_df") <= ceil).select(col("_g"), col("_df"))
      }
    // one (id, gram, df) join feeds BOTH the prefix windows and (in the
    // capped case) the filtered inverted index — identical subplans so
    // the exchange is reused instead of the join running twice.
    // The two gram joins shuffle-hash on their smaller side: the planner
    // sizes an explode like its input, so it would broadcast the
    // (id, gram) table, one row per shingle, and the driver keeps a
    // broadcast relation until the context cleaner runs after a later GC
    val withDf = grams.join(kept.hint("SHUFFLE_HASH"), Seq("_g"))
    val wp = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_df"), col("_g"))
    val wn = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val prefix = withDf
      .select(col(idCol), col("_g"),
        row_number().over(wp).as("_rn"), count(lit(1)).over(wn).as("_n"))
      .where(col("_rn") <= expr(s"(_n * ${1000000L - thresholdMicro}) div 1000000") + 1)
      .select(col(idCol).as("a"), col("_g"))
    val indexGrams = if (capped) withDf else grams
    val cands = prefix.hint("SHUFFLE_HASH")
      .join(indexGrams.select(col(idCol).as("b"), col("_g")), Seq("_g"))
      .where(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val hashed = sh.select(col(idCol),
      graft.functions.ShingleFunctions.sorted_shingle_hashes(col("_sh")).as("_hs"))
    // LOSSLESS size prefilter before any array payload moves: containment
    // ≥ θ needs |A∩B| ≥ θ·|A| and |A∩B| ≤ |B|, so |B| ≥ θ·|A| — prune
    // candidates on two longs (the near-dup size-ratio recipe) so only
    // survivors shuffle the hashed-shingle arrays into the merge verify
    val sizes = hashed.select(col(idCol), size(col("_hs")).as("_n"))
    val sized = cands
      .join(sizes.select(col(idCol).as("a"), col("_n").as("_na")), Seq("a"))
      .join(sizes.select(col(idCol).as("b"), col("_n").as("_nb")), Seq("b"))
      .where(col("_nb").cast("long") * lit(1000000L) >=
        lit(thresholdMicro) * col("_na").cast("long"))
      .select("a", "b")
    sized
      .join(hashed.select(col(idCol).as("a"), col("_hs").as("_ha")), Seq("a"))
      .join(hashed.select(col(idCol).as("b"), col("_hs").as("_hb")), Seq("b"))
      .withColumn("i_size",
        graft.functions.ShingleFunctions.sorted_intersect_size(col("_ha"), col("_hb")))
      .select(col("a"), col("b"), col("i_size"),
        size(col("_ha")).as("size_a"), size(col("_hb")).as("size_b"))
      .where(col("i_size").cast("long") * lit(1000000L) >=
        lit(thresholdMicro) * col("size_a").cast("long"))
      .withColumn("cont_micro", expr("(CAST(i_size AS BIGINT) * 1000000) div size_a"))
  }

  /** Cross-source duplication matrix — the datasheet view of a pair
    * list: for every unordered source pair, how many near-dup pairs
    * cross it (diagonal = within-source duplication). High off-diagonal
    * counts mean one source is a scrape/mirror of another, the signal
    * for source-level dedup ordering and for leakage audits between
    * train mixtures. Two id-keyed equi-joins of the (small, derived)
    * pair list against the doc→source projection, then a
    * |sources|²-bounded aggregate — broadcast the pair list when it
    * fits. Returns (source_a ≤ source_b, n_pairs). */
  def crossSourceMatrix(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String = "doc_id",
      groupCol: String = "source"): DataFrame = {
    val g = docs.select(col(idCol), col(groupCol))
    pairs.select(col("a"), col("b"))
      .join(g.withColumnRenamed(idCol, "a").withColumnRenamed(groupCol, "_ga"), Seq("a"))
      .join(g.withColumnRenamed(idCol, "b").withColumnRenamed(groupCol, "_gb"), Seq("b"))
      .select(least(col("_ga"), col("_gb")).as("source_a"),
        greatest(col("_ga"), col("_gb")).as("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** MinHash-LSH parameter planning from first principles: with `b`
    * bands of `r` rows (b·r = numHashes), a pair at Jaccard `s` becomes
    * a candidate with probability `1 − (1 − s^r)^b` (the S-curve). The
    * plan picks the SMALLEST band count — fewest candidate pairs, i.e.
    * cheapest verify stage — whose recall AT the dedup threshold still
    * meets `minRecall`. Falls back to (numHashes, 1) — every hash its
    * own band, maximal recall — when no divisor reaches the target.
    *
    * For the engine's shipped config (64 hashes, J ≥ 0.8, recall 0.99)
    * this derives bands = 16, rows = 4 — the parameters
    * [[nearDupSizesShingled]] ships with (recall at 0.8 ≈ 0.9998).
    * Returns (bands, rowsPerBand, recallAtThreshold). */
  def lshPlan(
      threshold: Double,
      numHashes: Int,
      minRecall: Double = 0.99): (Int, Int, Double) = {
    require(threshold > 0 && threshold < 1, "lshPlan: threshold must be in (0,1)")
    require(numHashes >= 1, "lshPlan: numHashes must be >= 1")
    require(minRecall > 0 && minRecall < 1, "lshPlan: minRecall must be in (0,1)")
    def recallAt(b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(threshold, r), b)
    val divisors = (1 to numHashes).filter(numHashes % _ == 0)
    divisors
      .map(b => (b, numHashes / b, recallAt(b, numHashes / b)))
      .find(_._3 >= minRecall)
      .getOrElse((numHashes, 1, recallAt(numHashes, 1)))
  }
}
