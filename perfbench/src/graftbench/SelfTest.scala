package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry
import graft.engine.GraftSession

/** The benchmark's own test: one real hom op must pass HomCheck, and
  * each corruption of its output must be caught. Also writes one suite
  * query's output with its oracle SQL, which selftest.py corrupts to test
  * the oracle comparison.
  *
  * Usage: graftbench.SelfTest --work <dir> --suite-data <dir>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work")).toAbsolutePath
    Gen.deleteTree(work) // inputs of an older generator must not be reused
    val spark = GraftSession.local(Main.Cores, "graftbench-selftest")
    val in = Gen.inputs(work.resolve("inputs"), "hom_bulk", 7L)
    val hom = new Main.Hom("hom_bulk", in, work)
    val op = hom.distinct.head
    hom.beforeSetup()
    hom.prepare(op)
    hom.run(spark, op)
    require(hom.check(op).isEmpty, s"a correct output was rejected: ${hom.check(op)}")

    val truth = in.truths.head
    val dir = work.resolve("hom_bulk-out").resolve(op.stripSuffix(".csv"))
      .resolve(s"datos3cv_${truth.y0}-${truth.y1}.csv")
    val part = Files.list(dir).iterator().asScala.find(_.getFileName.toString.startsWith("part-")).get
    val good = Files.readAllLines(part, StandardCharsets.UTF_8).asScala.toVector
    val cols = good.head.split(",", -1).toSeq
    def col(n: String) = cols.indexOf(n)
    def edit(pred: Array[String] => Boolean)(f: Array[String] => Unit): Vector[String] = {
      var done = false
      good.head +: good.tail.map { l =>
        val r = l.split(",", -1)
        if (!done && pred(r)) { f(r); done = true; r.mkString(",") } else l
      }
    }
    val matched = (r: Array[String]) => r(col("IMP_COD")).nonEmpty
    val bev = (r: Array[String]) => r(col("CATEGORIA_PROPULSION")) == "bev"
    val unmatched = (r: Array[String]) => r(col("IMP_COD")).isEmpty
    val corruptions = Seq(
      "wrong IMP_COD" -> edit(matched)(r => r(col("IMP_COD")) = "IMP0000000000"),
      "wrong RUT" -> edit(matched)(r => r(col("RUT")) = "1.111.111-1"),
      "unrelated name matched" -> edit(unmatched)(r => { r(col("IMP_COD")) = "IMP1"; r(col("RUT")) = "1-1" }),
      "BEV with CO2" -> edit(bev)(r => r(col("EMIS_CO2_EQUIV")) = "12.5"),
      "row dropped" -> good.dropRight(1),
      "row duplicated" -> (good :+ good.last),
      "column dropped" -> good.map(_.split(",", -1).dropRight(1).mkString(",")))
    corruptions.foreach { case (what, lines) =>
      require(HomCheck.checkRows(truth, lines).isLeft, s"corruption not caught: $what")
      println(s"[selftest] caught: $what")
    }
    require(HomCheck(truth, dir.getParent, "").isLeft, "missing report not caught")
    Files.move(dir, dir.resolveSibling("datos3cv_1999-2000.csv"))
    require(HomCheck(truth, dir.getParent, s""""published":"x/datos3cv_${truth.y0}-${truth.y1}.csv",""" +
      s""""rows":${truth.rows},"importers_not_found":${truth.notFound}""").isLeft,
      "missing output not caught")
    println("[selftest] caught: missing report, no output under the planted file name")

    val q = "p130_rfm"
    val out = work.resolve("suite-selftest")
    SparkEntry.queries(q)(spark, a("suite-data")).write.parquet(out.resolve(q).toString)
    Files.writeString(out.resolve("oracle_sql.json"),
      new ObjectMapper().writeValueAsString(java.util.Map.of(q, SparkEntry.oracleSql(q))))
    println(s"[selftest] suite output ${out}")
    spark.stop()
  }
}
