package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** String-normalization primitives used across the transform layer —
  * the Spark-native forms of the reference's unidecode/strip/lower
  * lambdas (/root/reference/src/transform_pipeline.py:55-66,
  * /root/reference/src/header_standarizer_ruler.py:199-212).
  */
object TextFunctions {

  /** Accent folding, driver-side: NFD-decompose then drop combining marks.
    * Covers the Spanish corpus (á é í ó ú ü ñ → a e i o u u n). */
  def unaccentStr(s: String): String = {
    if (s == null) return null
    Normalizer.normalize(s, Normalizer.Form.NFD)
      .replaceAll("\\p{M}", "")
  }

  /** Column fast-path: `translate` handles the full Spanish accent set
    * without leaving whole-stage codegen. */
  def unaccent(c: Column): Column =
    translate(c, "áéíóúüñÁÉÍÓÚÜÑ", "aeiouunAEIOUUN")

  /** Reference category normalization: str → lower → unaccent → trim
    * (transform_pipeline.py:63-65). */
  def normalizeCategory(c: Column): Column =
    trim(unaccent(lower(c.cast("string"))))

  /** Importer-name normalization: upper + strip [\t.\-\s]+
    * (importer_standarizer.py:37-43). */
  def normalizeName(c: Column): Column =
    upper(regexp_replace(c, "[\\t.\\-\\s]+", ""))

  /** F18's distributed form (SURVEY §2.8): per-word dictionary mapping as
    * pure array expressions — `transform` over split tokens with an
    * `element_at(map_literal, w)` lookup, rejoined. The driver-side
    * HeaderRules path covers header names; this form is for applying the
    * same abbreviation dictionaries to a DATA column at scale. */
  def applyWordMap(c: Column, mapping: Map[String, String]): Column = {
    val m = map(mapping.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    array_join(
      transform(split(c, "\\s+"), w => coalesce(element_at(m, w), w)),
      " ")
  }

  def register(spark: SparkSession): Unit = {
    spark.udf.register("unaccent", unaccentStr _)
  }
}
