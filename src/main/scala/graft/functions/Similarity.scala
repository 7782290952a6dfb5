package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Ratcliff/Obershelp sequence similarity — the metric behind the
  * reference's fuzzy importer matching
  * (/root/reference/src/importer_standarizer.py:63-64 uses Python
  * difflib.SequenceMatcher.ratio()). ratio = 2*M / (|a|+|b|) where M is
  * the total size of matching blocks found by recursively taking the
  * longest common substring and recursing on both sides.
  *
  * Implemented as plain Scala (driver-usable for header matching) plus a
  * registered UDF for distributed scoring. O(|a|*|b|) per call — fine for
  * short names; at 100 TB scale pair this with blocking (FuzzyJoin
  * .bestMatchBlocked) so the quadratic scorer only sees banded candidates.
  *
  * Sequence elements are Unicode CODE POINTS, exactly like Python 3
  * strings under difflib (a supplementary-plane char is one element, not
  * a surrogate pair) — and the same unit Catalyst's `Length` counts, so
  * [[SimilarityLengthPruning]]'s length guard is sound for all inputs.
  */
object Similarity {

  /** Code points of `s`; fast 1:1 path for BMP-only strings (the common
    * case for the header/importer corpora). */
  private def codePoints(s: String): Array[Int] = {
    val n = s.length
    var i = 0
    while (i < n && !Character.isHighSurrogate(s.charAt(i))) i += 1
    if (i == n) {
      val out = new Array[Int](n)
      var j = 0
      while (j < n) { out(j) = s.charAt(j); j += 1 }
      out
    } else s.codePoints().toArray
  }

  /** Longest matching block in a[alo,ahi) x b[blo,bhi); ties resolved to
    * the earliest position in a, then b (difflib-compatible). */
  private def longestMatch(
      a: Array[Int], b: Array[Int],
      alo: Int, ahi: Int, blo: Int, bhi: Int): (Int, Int, Int) = {
    var besti = alo; var bestj = blo; var bestSize = 0
    val width = bhi - blo
    var prev = new Array[Int](width)
    var cur = new Array[Int](width)
    var i = alo
    while (i < ahi) {
      java.util.Arrays.fill(cur, 0)
      var j = blo
      while (j < bhi) {
        if (a(i) == b(j)) {
          val k = (if (j > blo) prev(j - 1 - blo) else 0) + 1
          cur(j - blo) = k
          if (k > bestSize) { besti = i - k + 1; bestj = j - k + 1; bestSize = k }
        }
        j += 1
      }
      val t = prev; prev = cur; cur = t
      i += 1
    }
    (besti, bestj, bestSize)
  }

  private def matchCount(
      a: Array[Int], b: Array[Int],
      alo: Int, ahi: Int, blo: Int, bhi: Int): Int = {
    if (alo >= ahi || blo >= bhi) return 0
    val (i, j, k) = longestMatch(a, b, alo, ahi, blo, bhi)
    if (k == 0) 0
    else k + matchCount(a, b, alo, i, blo, j) + matchCount(a, b, i + k, ahi, j + k, bhi)
  }

  /** 2*M/(|a|+|b|) in [0,1] over code-point counts; 1.0 for two empty
    * strings, 0.0 if either null. */
  def ratio(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val ca = codePoints(a); val cb = codePoints(b)
    val total = ca.length + cb.length
    if (total == 0) return 1.0
    2.0 * matchCount(ca, cb, 0, ca.length, 0, cb.length) / total
  }

  val similarityUdf = udf(ratio _)

  def similarity_ratio(a: Column, b: Column): Column = similarityUdf(a, b)

  /** Register `similarity_ratio(a, b)` for SQL use. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("similarity_ratio", ratio _)

  /** JARO-WINKLER similarity — the record-linkage scorer alongside
    * [[ratio]]: Jaro's windowed match/transposition count, boosted for
    * up to 4 shared prefix characters by p = 0.1 ONLY when the base
    * Jaro exceeds 0.7 (the standard boost-threshold formulation; same
    * parameterization as DuckDB's `jaro_winkler_similarity`, C
    * reference implementations, and the original census-linkage code).
    * Empty or null input scores 0.0 — even two empties (the linkage
    * convention: no evidence is not a match; DuckDB agrees).
    *
    * Elements are Unicode CODE POINTS (like [[ratio]]); engines that
    * compare raw UTF-8 bytes (DuckDB) agree on ASCII and diverge on
    * multibyte input — pin oracles to ASCII columns.
    * O(|a|·|b| window) per call, zero allocation beyond two mark
    * arrays: pair with blocking at scale, same as [[ratio]]. */
  def jaroWinkler(a: String, b: String): Double = {
    if (a == null || b == null) return 0.0
    val ca = codePoints(a); val cb = codePoints(b)
    val la = ca.length; val lb = cb.length
    if (la == 0 || lb == 0) return 0.0
    if (java.util.Arrays.equals(ca, cb)) return 1.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la); val bMatch = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && ca(i) == cb(j)) {
          aMatch(i) = true; bMatch(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0; var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (ca(i) != cb(k)) t += 1
        k += 1
      }
      i += 1
    }
    val mt = t / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - mt).toDouble / m) / 3.0
    if (jaro <= 0.7) jaro
    else {
      val maxL = math.min(4, math.min(la, lb))
      var l = 0
      while (l < maxL && ca(l) == cb(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    }
  }
}
