package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.pipeline.Homologation

/** Checks one RunHomologation output against the planted truth: the
  * published file name, the reported row and not-found counts, the
  * header, every row's IMP_COD/RUT, and EMIS_CO2_EQUIV = 0 on BEV rows.
  * Right(sorted data lines) when it holds, Left(what is wrong) if not. */
object HomCheck {

  def apply(t: Gen.Truth, outDir: Path, stdout: String): Either[String, Seq[String]] = {
    val fileName = s"datos3cv_${t.y0}-${t.y1}.csv"
    val report = stdout.linesIterator.find(_.startsWith("{\"published\"")).getOrElse("")
    def field(k: String) = s""""$k":([0-9]+)""".r.findFirstMatchIn(report).map(_.group(1).toInt)
    val dir = outDir.resolve(fileName)
    val parts =
      if (Files.isDirectory(dir)) {
        val s = Files.list(dir)
        try s.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toList
        finally s.close()
      } else Nil
    if (!report.contains(s"/$fileName\"")) Left(s"report does not name $fileName: ${report.take(200)}")
    else if (!field("rows").contains(t.rows)) Left(s"reported rows ${field("rows")} != ${t.rows}")
    else if (!field("importers_not_found").contains(t.notFound))
      Left(s"reported not-found ${field("importers_not_found")} != ${t.notFound}")
    else if (parts.size != 1) Left(s"expected one part file in $dir, found ${parts.size}")
    else checkRows(t, Files.readAllLines(parts.head, StandardCharsets.UTF_8).asScala.toSeq)
  }

  def checkRows(t: Gen.Truth, lines: Seq[String]): Either[String, Seq[String]] = {
    val header = lines.headOption.getOrElse("")
    val cols = header.split(",", -1).toSeq
    if (cols != Homologation.publishedColumns) return Left(s"header is not the published columns: $header")
    val at = cols.zipWithIndex.toMap
    val data = lines.tail.filter(_.nonEmpty)
    if (data.size != t.rows) return Left(s"${data.size} rows written, ${t.rows} planted")
    val seen = scala.collection.mutable.Set.empty[String]
    val bad = data.iterator.map(_.split(",", -1)).flatMap { r =>
      if (r.length != cols.size) Some(s"row has ${r.length} fields")
      else {
        val code = r(at("CODIGO_INFORME_TECNICO"))
        val imp = (r(at("IMP_COD")), r(at("RUT")))
        val isBev = r(at("CATEGORIA_PROPULSION")) == "bev"
        if (!seen.add(code)) Some(s"$code written twice")
        else if (t.matches.get(code).exists(_ != imp)) Some(s"$code matched $imp, planted ${t.matches(code)}")
        else if (t.unmatched(code) && imp != (("", ""))) Some(s"$code matched $imp, planted unrelated")
        else if (!t.matches.contains(code) && !t.unmatched(code)) Some(s"$code was not planted")
        else if (isBev != t.bev(code)) Some(s"$code bev=$isBev, planted ${t.bev(code)}")
        else if (isBev && r(at("EMIS_CO2_EQUIV")).toDoubleOption.forall(_ != 0.0))
          Some(s"$code is BEV with EMIS_CO2_EQUIV=${r(at("EMIS_CO2_EQUIV"))}")
        else None
      }
    }.take(1).toList
    bad.headOption.map(Left(_)).getOrElse(Right(data.sorted))
  }
}
