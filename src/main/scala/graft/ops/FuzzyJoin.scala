package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge.column
import org.apache.spark.sql.types.{DataType, MapType, StructField, StructType}

import scala.jdk.CollectionConverters._

import graft.functions.{GraftFunctions, TextFunctions}

/** J2: fuzzy best-match (similarity top-1) join — the Spark-native form of
  * /root/reference/src/importer_standarizer.py:52-105.
  *
  * Shape: distinct probe names × broadcast candidate catalog → score with
  * the Ratcliff/Obershelp UDF → top-1 per probe via window argmax with a
  * deterministic tie-break on catalog position (NumPy argmax takes the
  * first index; importer_standarizer.py:68).
  *
  * Scale: the broadcast nested-loop is right for a ≤thousands-row catalog
  * (it is O(U×C) scoring but fully partition-parallel on U and never
  * shuffles the fact table). For catalogs that don't broadcast,
  * [[bestMatchBlocked]] bands both sides by (first char, length bucket)
  * of the normalized name so the quadratic scorer only sees same-band
  * candidates — the standard blocking trade (recall loss only for pairs
  * whose normalized forms differ in first char or by >1 length bucket,
  * which at threshold 0.6+ is a negligible sliver).
  */
object FuzzyJoin {

  /** Attach a stable position column reflecting current row order.
    * Intended for small dimension catalogs (coalesced to 1 partition so
    * monotonically_increasing_id enumerates file order). */
  def withPosition(df: DataFrame, posCol: String = "_cat_pos"): DataFrame =
    df.coalesce(1).withColumn(posCol, monotonically_increasing_id())

  /** Default scorer: R/O ratio over reference-normalized names (F15),
    * using the native codegen expression (no ScalaUDF on the hot path). */
  def normalizedRatio(probe: Column, cand: Column): Column =
    GraftFunctions.similarity_native(
      coalesce(TextFunctions.normalizeName(probe), lit("")),
      coalesce(TextFunctions.normalizeName(cand), lit("")))

  /** Top-1 candidate per probe row. Output: probe columns + candidate
    * columns + `score`. Rows below `threshold` are dropped when
    * `inclusive` (`>=`, new-path) or at it too when not (`>`, old-path
    * importer_standarizer.py:172). The distributed form;
    * [[bestMatchCollected]] is the eager one for a driver-held name
    * list. */
  def bestMatch(
      probes: DataFrame,
      probeCol: String,
      catalog: DataFrame,
      candCol: String,
      threshold: Double,
      inclusive: Boolean = true,
      scorer: (Column, Column) => Column = normalizedRatio,
      posCol: String = "_cat_pos"): DataFrame = {
    val cat = if (catalog.columns.contains(posCol)) catalog else withPosition(catalog, posCol)
    // Top-1 per probe ROW without any row id: score DISTINCT probe
    // values (duplicate rows share their value's best match by
    // definition), then join the value→match mapping back to the rows.
    // No monotonically_increasing_id — ids assigned on a data-sized side
    // are not stable under partial stage retry — and the quadratic
    // scorer runs once per distinct value, not once per row.
    val values = probes.select(col(probeCol)).distinct()
    val scored = values
      .crossJoin(broadcast(cat))
      .withColumn("score", scorer(col(probeCol), col(candCol)))
    val w = Window.partitionBy(col(probeCol))
      .orderBy(col("score").desc, col(posCol).asc)
    val keep = if (inclusive) col("score") >= threshold else col("score") > threshold
    val best = scored
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1 && keep)
      .drop("_rn", posCol)
      .withColumnRenamed(probeCol, "_probe_val")
    probes
      .join(best, col(probeCol) <=> col("_probe_val")) // null-safe: null probes keep their match
      .drop("_probe_val")
  }

  /** [[bestMatch]] of a driver-held list of probe `values` of type
    * `valueType`, evaluated eagerly: one action scores the distinct
    * values against the broadcast catalog as bestMatch does, keeps the
    * pairs that clear the threshold and collects them, and the driver
    * picks the top-1 per value by (score desc, catalog position asc),
    * the order of bestMatch's window. Returns value → its best catalog
    * row (the catalog's columns without `posCol`, then `score`) for each
    * value that has one.
    *
    * The collect holds at most U×C rows (U distinct values, C catalog
    * rows); only pairs above the threshold survive, so in practice about
    * U. The values are a local relation spread over the session's
    * cores, and nothing is joined back, windowed or shuffled. */
  def bestMatchCollected(
      values: Seq[Any],
      valueType: DataType,
      catalog: DataFrame,
      candCol: String,
      threshold: Double,
      inclusive: Boolean = true,
      scorer: (Column, Column) => Column = normalizedRatio,
      posCol: String = "_cat_pos"): Map[Any, Row] = {
    val distinct = values.distinct
    if (distinct.isEmpty) return Map.empty
    val cat = if (catalog.columns.contains(posCol)) catalog else withPosition(catalog, posCol)
    val probes = catalog.sparkSession.createDataFrame(distinct.map(Row(_)).asJava,
      StructType(Seq(StructField("_probe_val", valueType))))
    val keep = if (inclusive) col("score") >= threshold else col("score") > threshold
    val pairs = probes.crossJoin(broadcast(cat))
      .withColumn("score", scorer(col("_probe_val"), col(candCol)))
      .where(keep)
      .select(col("_probe_val"), col("score"), col(posCol).cast("long"),
        struct((cat.columns.toSeq.filterNot(_ == posCol) :+ "score").map(col): _*))
      .collect()
    def better(a: Row, b: Row): Boolean =
      a.getDouble(1) > b.getDouble(1) ||
        (a.getDouble(1) == b.getDouble(1) && a.getLong(2) < b.getLong(2))
    pairs.groupBy(_.get(0)).map { case (v, rs) =>
      v -> rs.reduce((a, b) => if (better(a, b)) a else b).getStruct(3)
    }
  }

  /** Banded variant: probes and candidates join on a blocking key
    * (first char + coarse length bucket of the normalized string) instead
    * of a cross join, so neither side needs to broadcast. */
  def bestMatchBlocked(
      probes: DataFrame,
      probeCol: String,
      catalog: DataFrame,
      candCol: String,
      threshold: Double,
      lengthBucket: Int = 4,
      posCol: String = "_cat_pos"): DataFrame = {
    val cat = if (catalog.columns.contains(posCol)) catalog else withPosition(catalog, posCol)
    def bandKeys(c: Column): Column = {
      val n = TextFunctions.normalizeName(c)
      val b = floor(length(n) / lengthBucket)
      // neighbor buckets too: a candidate one bucket away can still clear
      // a high similarity threshold
      array(
        concat_ws("#", substring(n, 1, 1), (b - 1).cast("string")),
        concat_ws("#", substring(n, 1, 1), b.cast("string")),
        concat_ws("#", substring(n, 1, 1), (b + 1).cast("string")))
    }
    // same distinct-values → band join → argmax → join-back shape as
    // bestMatch (see there for why no row ids)
    val p = probes.select(col(probeCol)).distinct()
      .withColumn("_band", explode(array_distinct(bandKeys(col(probeCol)))))
    val c = cat.withColumn("_band",
      concat_ws("#",
        substring(TextFunctions.normalizeName(col(candCol)), 1, 1),
        floor(length(TextFunctions.normalizeName(col(candCol))) / lengthBucket).cast("string")))
    // Native codegen scorer (same kernel as bestMatch) + a pre-window
    // threshold filter: dropping sub-threshold pairs BEFORE the argmax is
    // result-identical (a probe's max either clears the threshold and
    // survives the filter, or the probe is dropped by the post-window
    // keep anyway) and it exposes `similarity_ratio(..) >= t` directly in
    // a Filter, where SimilarityLengthPruning conjoins its O(1) length
    // guard ahead of the O(|a|·|b|) kernel — the filter above the Window
    // only sees the `score` attribute and can never be pruned.
    val scored = p.join(c, Seq("_band"))
      .withColumn("score", normalizedRatio(col(probeCol), col(candCol)))
      .where(col("score") >= threshold)
    val w = Window.partitionBy(col(probeCol))
      .orderBy(col("score").desc, col(posCol).asc)
    val best = scored.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn", "_band", posCol)
      .withColumnRenamed(probeCol, "_probe_val")
    probes
      .join(best, col(probeCol) <=> col("_probe_val"))
      .drop("_probe_val")
  }

  /** Edit-distance-1 similarity SELF-join via the deletion-neighborhood
    * (SymSpell) blocking rule: two strings are within Levenshtein
    * distance 1 **iff** they share a member of {s} ∪ {s minus one char}
    * — substitution ⇒ same deletion at the edit position, insert/delete
    * ⇒ the longer string's deletion equals the shorter string itself.
    * So candidates come from an EQUI-join on the ≤ len+1 generated
    * variants — exact recall, never an all-pairs or theta join — then
    * one `levenshtein` verify per distinct candidate pair discards the
    * false positives (deletions at different positions landing equal).
    *
    * Scale: row growth is the variant factor (≈ string length);
    * the join shuffles 8-byte ids + short variant strings; candidate
    * count is data-dependent but each true pair plus the same-variant
    * coincidences only — the entity-resolution classic for typo-level
    * matching where a similarity threshold join would go quadratic.
    * Returns (a, b, dist ≤ 1), a < b on `idCol`, exact-duplicate
    * strings included at dist 0. */
  def editNeighbors(
      df: DataFrame,
      idCol: String,
      strCol: String): DataFrame = {
    val s = df.select(col(idCol).as("_eid"), col(strCol).as("_es"))
    val variants = s.select(col("_eid"), col("_es"),
      explode(concat(array(col("_es")),
        expr("transform(sequence(1, length(_es)), " +
          "i -> concat(substring(_es, 1, i - 1), substring(_es, i + 1, length(_es))))")))
        .as("_v"))
    val a = variants.select(col("_v"), col("_eid").as("a"), col("_es").as("_sa"))
    val b = variants.select(col("_v"), col("_eid").as("b"), col("_es").as("_sb"))
    a.join(b, Seq("_v"))
      .where(col("a") < col("b"))
      .select("a", "b", "_sa", "_sb").distinct()
      .withColumn("dist", levenshtein(col("_sa"), col("_sb")))
      .where(col("dist") <= 1)
      .select(col("a"), col("b"), col("dist"))
  }

  /** FELLEGI–SUNTER probabilistic record linkage (Fellegi & Sunter
    * 1969) over BLOCKED candidate pairs — the statistical upgrade of
    * the deterministic fuzzy joins above: each field carries an
    * (m, u) pair — P(agree | same entity) and P(agree | different
    * entities) — and a candidate pair's evidence is the likelihood
    * ratio Π over fields of m/u (agreement), (1−m)/(1−u)
    * (disagreement), or 1 (either side missing — no information, the
    * standard convention). Pairs classify by the two F-S thresholds:
    * `match` at lr ≥ upper, `possible` (clerical review) at ≥ lower,
    * else `non_match`.
    *
    * INTEGER-EXACT: m/u arrive as ppm, the ratio is carried as exact
    * DECIMAL(38,0) numerator/denominator PRODUCTS (≤ 5 fields keeps
    * Π ppm ≤ 10³⁰ and the final ×10⁶ inside 10³⁸ — require-guarded),
    * and lr_ppm is one integral division at the end. No log-weights,
    * no libm — both engines replay the arithmetic bit-for-bit.
    *
    * Scale shape: candidates come ONLY from the equality block join on
    * `blockCol` (never all-pairs — the blocking key's group size is
    * the knob, exactly [[Dedup.containmentPairs]]' df-ceiling class;
    * salt hot blocks with [[SkewJoin]] at 100 TB). Scoring is map-only
    * per candidate.
    *
    * `fields` = (column, m_ppm, u_ppm), columns present in both
    * inputs. Returns (a, b, n_agree, n_disagree, lr_ppm, decision). */
  def fellegiSunter(
      dfA: DataFrame,
      dfB: DataFrame,
      idColA: String,
      idColB: String,
      blockCol: String,
      fields: Seq[(String, Long, Long)],
      lowerPpm: Long = 1000000L,
      upperPpm: Long = 1000000000L): DataFrame = {
    require(fields.nonEmpty && fields.size <= 5,
      s"fellegiSunter: need 1..5 fields (DECIMAL(38,0) headroom), got ${fields.size}")
    require(fields.forall { case (_, m, u) =>
      m >= 1 && m <= 999999L && u >= 1 && u <= 999999L },
      s"fellegiSunter: every m_ppm/u_ppm must lie in [1, 999999], got $fields")
    require(lowerPpm >= 0 && upperPpm >= lowerPpm,
      s"fellegiSunter: need 0 <= lowerPpm <= upperPpm, got $lowerPpm/$upperPpm")
    val d = org.apache.spark.sql.types.DecimalType(38, 0)
    val a = dfA.select(col(idColA).as("a") +: col(blockCol).as("_blk") +:
      fields.map { case (f, _, _) => col(f).as(s"_a_$f") }: _*)
    val b = dfB.select(col(idColB).as("b") +: col(blockCol).as("_blk") +:
      fields.map { case (f, _, _) => col(f).as(s"_b_$f") }: _*)
    val cand = a.join(b, Seq("_blk"))
    val one = lit(1L).cast(d)
    def factor(f: String, mPpm: Long, uPpm: Long): (Column, Column, Column) = {
      val fa = col(s"_a_$f"); val fb = col(s"_b_$f")
      val agree = fa.isNotNull && fb.isNotNull && fa === fb
      val disagree = fa.isNotNull && fb.isNotNull && fa =!= fb
      val num = when(agree, lit(mPpm).cast(d))
        .when(disagree, lit(1000000L - mPpm).cast(d)).otherwise(one)
      val den = when(agree, lit(uPpm).cast(d))
        .when(disagree, lit(1000000L - uPpm).cast(d)).otherwise(one)
      (num, den, agree.cast("int"))
    }
    val factors = fields.map { case (f, m, u) => factor(f, m, u) }
    val num = factors.map(_._1).reduce(_ * _)
    val den = factors.map(_._2).reduce(_ * _)
    val nAgree = factors.map(_._3).reduce(_ + _).cast("long")
    val nBoth = fields.map { case (f, _, _) =>
      (col(s"_a_$f").isNotNull && col(s"_b_$f").isNotNull).cast("int")
    }.reduce(_ + _).cast("long")
    cand.select(col("a"), col("b"),
        nAgree.as("n_agree"), (nBoth - nAgree).as("n_disagree"),
        (num * lit(1000000L).cast(d)).as("_num6"), den.as("_den"))
      .select(col("a"), col("b"), col("n_agree"), col("n_disagree"),
        expr("CAST(_num6 div _den AS BIGINT)").as("lr_ppm"))
      .withColumn("decision",
        when(col("lr_ppm") >= upperPpm, "match")
          .when(col("lr_ppm") >= lowerPpm, "possible")
          .otherwise("non_match"))
  }
}

/** J2+J1 composed: full importer standardization
  * (/root/reference/src/importer_standarizer.py:128-148 new path;
  * :152-180 legacy path used by the pipeline). */
object ImporterStandardizer {

  /** How a variant scores a (name, catalog name) pair and whether a
    * score equal to the threshold is accepted. */
  sealed trait Variant {
    def inclusive: Boolean
    def scorer: (Column, Column) => Column
  }
  /** New path: normalized names, plain ratio, accept `>= threshold`. */
  case object Normalized extends Variant {
    val inclusive = true
    val scorer: (Column, Column) => Column = FuzzyJoin.normalizedRatio
  }
  /** Legacy path (the one pipeline_transformation imports): raw names,
    * junk chars `\t . space -`, accept `> threshold` strictly. Junk
    * handling approximates difflib's isjunk by stripping junk chars
    * before scoring. */
  case object Legacy extends Variant {
    val inclusive = false
    val scorer: (Column, Column) => Column = (p, c) => GraftFunctions.similarity_native(
      coalesce(stripJunk(p), lit("")), coalesce(stripJunk(c), lit("")))
  }

  /** The standardized rows and the distinct names without a match. */
  case class Result(standardized: DataFrame, notFound: DataFrame)

  /** catalog schema: COD_IMP, NOMBRE_EMP, RUT (+extra cols ignored).
    *
    * Eager by design, so that later actions on `standardized` never
    * rebuild the fuzzy lineage: one aggregate collects the distinct
    * non-null names of `nameCol` (≤ U names, U = distinct non-null
    * names), then [[standardizeNames]] matches them. */
  def standardize(
      df: DataFrame,
      catalog: DataFrame,
      threshold: Double = 0.6,
      variant: Variant = Legacy,
      nameCol: String = "IMPORTADOR"): Result =
    standardizeNames(df, df.agg(collect_set(col(nameCol))).first().getSeq[Any](0),
      catalog, threshold, variant, nameCol)

  /** [[standardize]] for `names`, the distinct non-null values of
    * `nameCol` in `df` when the caller has them already (the
    * homologation pipeline reads them off its summary aggregate; NULLs
    * and repeats are dropped).
    *
    * One action: [[FuzzyJoin.bestMatchCollected]] scores the names
    * against the catalog and collects the pairs that clear the
    * threshold (≤ U×C rows, C = catalog rows). The chosen name → match
    * mapping (≤ U entries) becomes one typed literal map, and
    * `standardized` is `df` with a lookup projection into it: the
    * matched catalog name replaces `nameCol`, and `RUT` and `IMP_COD`
    * are appended. Its columns and types are those of `df` left-joined
    * to the mapping on `nameCol` (`nameCol` first, `df`'s other columns,
    * then `RUT`, `IMP_COD`), with `df`'s row count, but there is no
    * join, broadcast or shuffle. Each row's lookup scans the map
    * (O(U) per row), which suits a catalog-sized U. `notFound` is a
    * local DataFrame of the names without a match. */
  def standardizeNames(
      df: DataFrame,
      names: Seq[Any],
      catalog: DataFrame,
      threshold: Double = 0.6,
      variant: Variant = Legacy,
      nameCol: String = "IMPORTADOR"): Result = {
    val spark = df.sparkSession
    val name = df.schema(nameCol)
    val distinct = names.filter(_ != null).distinct
    val cat = catalog.select("COD_IMP", "NOMBRE_EMP", "RUT")
    val best = FuzzyJoin.bestMatchCollected(distinct, name.dataType, cat, "NOMBRE_EMP",
      threshold, variant.inclusive, variant.scorer)
    // catalog column → its name in the lookup's struct
    val fields = Seq("NOMBRE_EMP" -> "IMPORTADOR_STD", "RUT" -> "RUT", "COD_IMP" -> "IMP_COD")
    val matchType = StructType(fields.map { case (c, as) => StructField(as, cat.schema(c).dataType) })
    val mapping = best.map { case (n, m) => n -> Row.fromSeq(fields.map(f => m.getAs[Any](f._1))) }
    // J1: a left enrichment as one lookup projection, coalesce-back
    val hit = element_at(
      column(Literal.create(mapping, MapType(name.dataType, matchType))), col(nameCol))
    val standardized = df.select(
      (coalesce(hit("IMPORTADOR_STD"), col(nameCol)).as(nameCol) +:
        df.columns.toSeq.filterNot(_ == nameCol).map(col)) ++
        Seq(hit("RUT").as("RUT"), hit("IMP_COD").as("IMP_COD")): _*)
    val notFound = spark.createDataFrame(
      distinct.filterNot(best.contains).map(Row(_)).asJava,
      StructType(Seq(name.copy(nullable = false))))
    Result(standardized, notFound)
  }

  private def stripJunk(c: Column): Column =
    regexp_replace(c, "[\\t\\. \\-]+", "")

}
