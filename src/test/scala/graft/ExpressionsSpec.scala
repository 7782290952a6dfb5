package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftFunctions, Similarity, TextFunctions}

/** Native Catalyst expressions: parity with the driver-side kernels,
  * null handling, SQL registration, and codegen (no ScalaUDF nodes). */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unaccent expression folds accents; null-safe") {
    val df = Seq(Some("Canción Eléctrica ÑU"), None).toDF("t")
    val out = df.select(GraftFunctions.unaccent_native($"t")).collect()
    assert(out(0).getString(0) == "Cancion Electrica NU")
    assert(out(1).isNullAt(0))
  }

  test("similarity expression matches driver-side ratio") {
    val pairs = Seq(("DERCO S.A.", "DERCO"), ("KAUFMANN", "KAUFMAN SA"), ("", ""))
    val out = pairs.toDF("a", "b")
      .select(GraftFunctions.similarity_native($"a", $"b")).as[Double].collect()
    pairs.zip(out).foreach { case ((a, b), got) =>
      assert(math.abs(got - Similarity.ratio(a, b)) < 1e-12)
    }
  }

  test("nfc_clean composes combining marks and strips ISO controls; null-safe") {
    val df = Seq(
      Some("cafe\u0301 x\u0007\u0000"), // decomposed e-acute + BEL + NUL
      Some("plain ascii"),
      None).toDF("t")
    val out = df.select(graft.functions.GraftFunctions.nfc_clean($"t")).collect()
    assert(out(0).getString(0) == "caf\u00e9 x")
    assert(out(1).getString(0) == "plain ascii")
    assert(out(2).isNullAt(0))
    // composed output is shorter in code points than the decomposed input
    val lens = df.limit(1).select(
      length($"t"),
      length(graft.functions.GraftFunctions.nfc_clean($"t"))).first()
    assert(lens.getInt(0) == lens.getInt(1) + 3) // compose -1, BEL -1, NUL -1
  }

  test("word_ngrams kernel: multiplicity kept, strict on short input") {
    val df = Seq(
      (1L, Seq("a", "b", "a", "b")),
      (2L, Seq("solo")),
      (3L, Seq.empty[String])
    ).toDF("id", "toks")
    val out = df.orderBy("id")
      .select(graft.functions.ShingleFunctions.word_ngrams($"toks", 2))
      .collect().map(_.getSeq[String](0))
    assert(out(0) == Seq("a b", "b a", "a b")) // duplicates preserved, in order
    assert(out(1).isEmpty && out(2).isEmpty)   // strict: < n tokens → empty
    // null elements are treated as empty tokens, never NPE
    val withNull = Seq(Tuple1(Seq[String]("a", null, "b"))).toDF("toks")
      .select(graft.functions.ShingleFunctions.word_ngrams($"toks", 2))
      .first().getSeq[String](0)
    assert(withNull == Seq("a ", " b"))
  }

  test("sorted hash intersect == array_intersect set sizes on string shingles") {
    // the hashed verify path must reproduce the exact set sizes the
    // string-array form computed (modulo 64-bit collisions, absent here)
    val docs = Seq(
      (1L, Seq("the cat sat", "cat sat on", "sat on mat")),
      (2L, Seq("cat sat on", "sat on mat", "on mat now")),   // 2 shared with 1
      (3L, Seq("zz yy xx", "aa bb cc")),                     // 0 shared
      (4L, Seq[String]())                                    // empty set
    ).toDF("id", "sh")
    val hashed = docs.select($"id", $"sh",
      graft.functions.ShingleFunctions.sorted_shingle_hashes($"sh").as("hs"))
    val a = hashed.select($"id".as("a"), $"sh".as("sa"), $"hs".as("ha"))
    val b = hashed.select($"id".as("b"), $"sh".as("sb"), $"hs".as("hb"))
    val out = a.join(b, $"a" < $"b")
      .select($"a", $"b",
        size(array_intersect($"sa", $"sb")).as("want_i"),
        graft.functions.ShingleFunctions.sorted_intersect_size($"ha", $"hb").as("got_i"),
        (size($"sa") + size($"sb")).as("want_ab"),
        (size($"ha") + size($"hb")).as("got_ab"))
      .collect()
    assert(out.length == 6)
    out.foreach { r =>
      assert(r.getInt(2) == r.getInt(3), s"i_size mismatch on ${r.getLong(0)}-${r.getLong(1)}")
      assert(r.getInt(4) == r.getInt(5), s"set-size mismatch on ${r.getLong(0)}-${r.getLong(1)}")
    }
    // hashes come out sorted and distinct
    val hs = hashed.where($"id" === 1L).select($"hs").first().getSeq[Long](0)
    assert(hs == hs.sorted && hs.distinct == hs)
  }

  test("SQL registration via GraftFunctions.register") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT unaccent('Homologación') AS u, ROUND(similarity_ratio('abc', 'abd'), 4) AS s")
      .first()
    assert(r.getString(0) == "Homologacion")
    assert(math.abs(r.getDouble(1) - 0.6667) < 1e-9)
    // the native aggregate is SQL-callable too
    val hh = spark.sql(
      "SELECT misra_gries(t, 4) AS hh FROM VALUES ('a'),('a'),('b') AS v(t)")
      .first().getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(r2 => (r2.getString(0), r2.getLong(1))) == Seq(("a", 2L), ("b", 1L)))
  }

  test("text_stats kernel matches the regex-composed signals") {
    import graft.ops.TextAnalysis
    val df = Seq("Hola! 2 Cats & 1 perro v2.0", "", "ñandú á 12").toDF("t")
    val got = df.select(
      graft.functions.TextStatsFunctions.text_stats(col("t")).as("st"),
      length(regexp_replace(col("t"), "[^\\p{Punct}]", "")).as("p"),
      length(regexp_replace(col("t"), "[^0-9]", "")).as("d"),
      length(regexp_replace(col("t"), "[^A-Z]", "")).as("u"),
      size(TextAnalysis.subwordTokens(col("t"))).as("sw")).collect()
    got.foreach { r =>
      val st = r.getStruct(0)
      assert(st.getInt(0) == r.getInt(1), "punct")
      assert(st.getInt(1) == r.getInt(2), "digit")
      assert(st.getInt(2) == r.getInt(3), "upper")
      assert(st.getInt(3) == r.getInt(4), "subwords")
    }
  }

  test("distributed word-map abbreviation (F18 scale form)") {
    val df = Seq("ministerio de transportes y telecomunicaciones").toDF("t")
    val out = df.select(TextFunctions.applyWordMap(col("t"),
      Map("ministerio" -> "mtt", "transportes" -> "mtt",
        "telecomunicaciones" -> "mtt"))).first().getString(0)
    assert(out == "mtt de mtt y mtt")
  }

  test("rolling_window_hashes: O(1) slide equals fresh Horner start at every position") {
    import graft.functions.ShingleFunctions.rolling_window_hashes
    val toks = Seq("the", "quick", "brown", "fox", "jumps", "over", "the", "lazy", "dog",
      "the", "quick", "brown", "fox")
    val n = 3
    // full-array hashes come from the O(1) slide ...
    val slid = Seq(toks).toDF("t")
      .select(rolling_window_hashes(col("t"), n).as("h"))
      .first().getSeq[Long](0)
    // ... each window alone re-derives its hash by the fresh Horner loop
    val fresh = toks.sliding(n).map { w =>
      Seq(w).toDF("t").select(rolling_window_hashes(col("t"), n).as("h"))
        .first().getSeq[Long](0).head
    }.toSeq
    assert(slid == fresh)
    // the repeated "the quick brown" / "quick brown fox" windows collide
    // exactly (same content), nothing else does on this input
    assert(slid(0) == slid(9) && slid(1) == slid(10))
    assert(slid.distinct.length == slid.length - 2)
  }

  test("rolling_window_hashes: fewer than n tokens is empty, cross-row determinism") {
    import graft.functions.ShingleFunctions.rolling_window_hashes
    val out = Seq(Seq("a", "b"), Seq("x", "a", "b"), Seq("a", "b", "x"))
      .toDF("t").select(rolling_window_hashes(col("t"), 3).as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(out(0).isEmpty)
    assert(out(1).length == 1 && out(2).length == 1 && out(1) != out(2))
  }

  test("term_counts: sorted histogram, empties dropped") {
    import graft.functions.ShingleFunctions.term_counts
    val out = Seq(Seq("b", "a", "b", "", "c", "b")).toDF("t")
      .select(term_counts(col("t")).as("tc"))
      .select(explode(col("tc")).as("e"))
      .select(col("e")("term"), col("e")("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a", 1L), ("b", 3L), ("c", 1L)))
  }

  test("expressions run inside whole-stage codegen, no ScalaUDF") {
    // literals would constant-fold to a LocalTableScan (also fine); use a
    // real scan so the projection must execute under codegen
    val df = graft.engine.Tables(spark, "/root/testdata/sf0.001", "customer")
      .select(GraftFunctions.similarity_native(col("c_name"), col("c_mktsegment")).as("s"),
        GraftFunctions.unaccent_native(col("c_name")).as("u"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // the "*(n)" prefix marks operators inside a WholeStageCodegen span
    assert(plan.contains("*(1) Project"), plan)
    assert(df.collect().length == 150)
  }
}
