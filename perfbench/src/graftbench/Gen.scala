package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper

import graft.pipeline.Homologation
import graft.schema.{HeaderIdentify, HeaderRules, MappingStore}

/** Seeded inputs for the `hom_*` workloads: raw 3CV-shaped grid CSVs, an
  * importer catalog CSV, a starting mapping store and the planted truth
  * every output is checked against.
  *
  * Grid headers extend the `PipelineQueries.demoGrid` block (multi-row,
  * grouped "Rendimiento" columns, a marker column below the header) and
  * vary its layout per grid: 2- or 3-level headers, shuffled column
  * order, `Unnamed:` fillers. Importer cells mix junk-char variants of
  * catalog names (tabs, dots, spaces, hyphens inserted, so the Legacy
  * scorer matches them at ratio 1.0) with unrelated names that share no
  * character with any catalog name (ratio 0, so they land in
  * `notFound`).
  */
object Gen {

  /** One grid column: the standard name the pipeline must give it, its
    * header label, the group label for grouped columns, and its cell. */
  final case class ColSpec(target: String, label: String, group: Option[String])

  final case class Shape(
      grids: Int,          // distinct grid files; ops cycle through them
      rows: Int,           // data rows per grid
      catalog: Int,        // catalog rows
      namesPerGrid: Int,   // distinct importer strings per grid
      unrelatedFrac: Double)

  val shapes: Map[String, Shape] = Map(
    "hom_bulk" -> Shape(grids = 2, rows = 2000, catalog = 28, namesPerGrid = 30, unrelatedFrac = 0.1),
    "hom_importers" -> Shape(grids = 2, rows = 300, catalog = 1500, namesPerGrid = 150, unrelatedFrac = 0.2))

  // published columns that the stages derive rather than read
  private val derived = Set("AÑO", "TIPO_LDV", "CATEGORIA_PROPULSION", "RUT", "IMP_COD",
    "EMIS_CO2_EQUIV", "REND_EQUIV_KML")

  private val gasLabels: Seq[(String, String)] = Seq(
    "N2O_EMISION_EPA" -> "N2O", "MP_EMISION_EPA_MASA_PARTICULAS_GKM" -> "MP masa (g/km)",
    "HCHO_EMISION_EPA_MGKM" -> "HCHO (mg/km)", "HC_EMISION_EPA_GKM" -> "HC (g/km)",
    "HCNM_EMISION_EPA_GKM" -> "HCNM (g/km)", "NMOG_NOX_EMISION_EPA" -> "NMOG+NOx",
    "NOX_EMISION_EPA_GKM" -> "NOx (g/km)", "NMOG_EMISION_EPA_GKM" -> "NMOG (g/km)",
    "CO_EMISION_EPA_GKM" -> "CO (g/km)")
  private val euLabels: Seq[(String, String)] = Seq(
    "HCHO_EMISION_EU_MGKM" -> "HCHO (mg/km)", "EMISION_NPS_KM_EU_KM" -> "NP (#/km)",
    "HC_NOX_EMISION_EU_GKM" -> "HC+NOx (g/km)", "NMOG_EMISION_EU_GKM" -> "NMOG (g/km)",
    "HCNM_EMISION_EU_GKM" -> "HCNM (g/km)", "MP_EMISION_MASA_PARTICULAS_EU_GKM" -> "MP masa (g/km)",
    "NOX_EMISION_EU_GKM" -> "NOx (g/km)", "HC_EMISION_EU_GKM" -> "HC (g/km)",
    "CO_EMISION_EU_GKM" -> "CO \n(g/km)")

  /** Column groups (kept contiguous so the parent forward-fill of
    * HeaderIdentify sees them as one block). The demoGrid labels are kept
    * as they are. The rules engine names the simple columns by itself;
    * the starting store maps the flattened group headers it cannot. */
  val groups: Seq[Seq[ColSpec]] = {
    def simple(t: String, l: String) = Seq(ColSpec(t, l, None))
    def grouped(g: String, cols: (String, String)*) = cols.map { case (t, l) => ColSpec(t, l, Some(g)) }
    Seq(
      simple("MARCA", "Marca"), simple("MODELO", "Modelo"),
      simple("IMPORTADOR", "Importador"), simple("PROPULSION", "Propulsión"),
      simple("COMBUSTIBLE", "Combustible"), simple("FECHA_HOML", "Fecha de Homologación"),
      simple("PESO_BRUTO_VH_KG", "P.B.V.              (kg)"),
      simple("CODIGO_INFORME_TECNICO", "Código Informe Técnico"),
      simple("FOOT_PRINT_MT2", "Foot print (m2)"),
      simple("CATEGORIA_VH", "Categoría vehículo"), simple("EMIS_NORMA", "Norma de emisión"),
      simple("TIPO_CARROCERIA", "Tipo de carrocería"), simple("TRANSMISION", "Transmisión"),
      simple("EMIS_CO2_GKM", "Emisiones de CO2 (g/km)"),
      grouped("Rendimiento",
        "MIXTO_REND_COMBUSTIBLE_KML" -> "Mixto Rendimiento de Combustible (km/l)",
        "REND_EV_VH_KMKWH" -> "Rendimiento Eléctrico (km/kwh) Vehículo Eléctrico Puro",
        "COMB_REND_WLTC_KML" -> "Combinado WLTC (km/l)",
        "REND_LOW_H2_KG_100_KM_FCEV_VH_CELDA" -> "Celda H2 low (kg/100 km)",
        "MIXTO_REND_GASOL_VH_GLP_GNC_KML" -> "Mixto gasolina GLP/GNC (km/l)"),
      grouped("CO2 otros",
        "CO2_VH_GASOL_GLP_GNC_GRKM" -> "Gasolina GLP/GNC (gr/km)",
        "CO2_PHEV_REND_PONDERADO_VH_GKM" -> "PHEV ponderado (g/km)"),
      grouped("Norma USA EPA", gasLabels: _*),
      grouped("Norma Europea", euLabels: _*),
      // not published: the rules engine names them on first sight
      simple("", "Potencia máxima (kW)"), simple("", "Tracción"))
  }

  /** Targets the stages read or publish; the generator refuses a layout
    * whose headers do not standardize onto every one of them. */
  val requiredTargets: Set[String] =
    (Homologation.publishedColumns.toSet -- derived) ++
      groups.flatten.map(_.target).filter(_.nonEmpty)

  private val propulsions: Seq[(String, String, String)] = Seq(
    // (PROPULSION raw, COMBUSTIBLE raw, category after Stages)
    ("Combustión", "Gasolina", "ice"), ("Combustión", "Diesel", "ice"),
    ("Vehículo Eléctrico", "", "bev"),
    ("Vehículos Híbridos sin recarga exterior", "Gasolina/Híbrido", "hev"),
    ("Vehículos Celda de Hidrógeno", "Hidrógeno", "h2"))

  /** Planted truth for one grid. */
  final case class Truth(
      grid: String, rows: Int, y0: Int, y1: Int, notFound: Int,
      names: Int,                             // distinct importer strings
      records: Int,                           // CSV records in the grid file
      matches: Map[String, (String, String)], // CODIGO_INFORME_TECNICO -> (IMP_COD, RUT)
      unmatched: Set[String],                 // codes whose importer must stay unmatched
      bev: Set[String])

  final case class Inputs(dir: Path, catalog: Path, mapping: Path, truths: IndexedSeq[Truth])

  private val om = new ObjectMapper()

  /** Generate (or reuse) the inputs for `workload` and `seed` under `root`. */
  def inputs(root: Path, workload: String, seed: Long): Inputs = {
    val shape = shapes(workload)
    val dir = root.resolve(s"$workload-$seed")
    val truthFile = dir.resolve("truth.json")
    if (!Files.exists(truthFile)) {
      val tmp = root.resolve(s"$workload-$seed.tmp")
      deleteTree(tmp)
      Files.createDirectories(tmp)
      generate(tmp, shape, seed)
      deleteTree(dir)
      Files.move(tmp, dir)
    }
    val truths = readTruths(truthFile)
    Inputs(dir, dir.resolve("catalog.csv"), dir.resolve("mapping.start.json"), truths)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  private def generate(dir: Path, shape: Shape, seed: Long): Unit = {
    val rnd = new Random(seed)
    val catalog = catalogRows(rnd, shape.catalog)
    writeLines(dir.resolve("catalog.csv"),
      "COD_IMP,NOMBRE_EMP,RUT,NOMBRE_COD,RUT_COD" +:
        catalog.map(c => Seq(c.cod, c.name, c.rut, c.cod.take(4), c.rut.filter(_.isDigit)).mkString(",")))

    val grids = (0 until shape.grids).map { g =>
      val layout = Layout(levels = if (g % 2 == 0) 3 else 2, order = rnd.shuffle(groups.indices.toList),
        fillers = rnd.nextBoolean())
      val (rows, truth) = gridBody(rnd, shape, catalog, g, layout)
      val name = f"grid$g%02d.csv"
      writeLines(dir.resolve(name), rows.map(csvLine))
      (layout, rows.take(HeaderIdentify.MaxScan), truth.copy(grid = name))
    }

    val store = startingStore(grids.map { case (l, prefix, _) => (l, prefix) })
    MappingStore.save(store, dir.resolve("mapping.start.json"))
    writeTruths(dir.resolve("truth.json"), grids.map(_._3))
  }

  final case class Layout(levels: Int, order: List[Int], fillers: Boolean) {
    def columns: Seq[ColSpec] = order.flatMap(groups)
  }

  /** Header rows + marker row + data rows, and the planted truth. */
  private def gridBody(rnd: Random, shape: Shape, catalog: IndexedSeq[CatRow], g: Int,
      layout: Layout): (Seq[Seq[String]], Truth) = {
    val cols = layout.columns
    val n = cols.size + 1 // last column: marker below the header block
    val levels = layout.levels
    val header = Array.fill(levels + 1, n)(null: String)
    var prevGroup: Option[String] = None
    var inGroup = 0
    cols.zipWithIndex.foreach { case (c, i) =>
      c.group match {
        case Some(gname) =>
          inGroup = if (prevGroup.contains(gname)) inGroup + 1 else 0
          // the group's first column carries the parent; later columns
          // start one level (3-level: up to two levels) deeper, which is
          // what makes HeaderIdentify see the deeper levels
          if (inGroup == 0) header(0)(i) = gname
          val leaf = if (levels == 3 && inGroup >= 2) 2 else 1
          header(leaf)(i) = c.label
          if (levels == 3 && leaf == 1 && inGroup == 0) header(2)(i) = s"${c.label} valor"
        case None =>
          header(0)(i) = c.label
          if (layout.fillers) header(1)(i) = s"Unnamed: ${i}_level_1"
      }
      prevGroup = c.group
    }
    header(levels)(n - 1) = "x"

    val y0 = 2013 + rnd.nextInt(4)
    val y1 = y0 + 3 + rnd.nextInt(8)
    val idx = cols.map(_.target).zipWithIndex.filter(_._1.nonEmpty).toMap
    val nUnrelated = math.max(1, (shape.namesPerGrid * shape.unrelatedFrac).toInt)
    val matchedPool = rnd.shuffle(catalog.indices.toList).take(shape.namesPerGrid - nUnrelated)
    val names: IndexedSeq[(String, Option[CatRow])] =
      (matchedPool.map(i => junkVariant(rnd, catalog(i).name) -> Some(catalog(i))) ++
        (0 until nUnrelated).map(k => unrelatedName(rnd, g, k) -> None)).toIndexedSeq
    require(names.map(_._1).distinct.size == names.size, "importer strings must be distinct")

    val matches = mutable.Map.empty[String, (String, String)]
    val unmatched = mutable.Set.empty[String]
    val bev = mutable.Set.empty[String]
    val usedNames = mutable.Set.empty[String]
    val data = (0 until shape.rows).map { r =>
      val row = Array.fill(n)("")
      def set(t: String, v: String): Unit = row(idx(t)) = v
      val code = f"IT$g%02d$r%07d"
      // every name appears at least once, the rest draw at random
      val (imp, cat) = if (r < names.size) names(r) else names(rnd.nextInt(names.size))
      usedNames += imp
      cat match {
        case Some(c) => matches(code) = (c.cod, c.rut)
        case None    => unmatched += code
      }
      val (prop, comb, category) = propulsions(rnd.nextInt(propulsions.size))
      if (category == "bev") bev += code
      val year = if (r == 0) y0 else if (r == 1) y1 else y0 + rnd.nextInt(y1 - y0 + 1)
      set("MARCA", Seq("Toyota", "Kia", "BYD", "Hyundai", "Chevrolet", "Suzuki")(rnd.nextInt(6)))
      set("MODELO", s"M${rnd.nextInt(400)}")
      set("IMPORTADOR", imp)
      set("PROPULSION", prop)
      set("COMBUSTIBLE", comb)
      // '-' sentinels exercise the forward fill; rows 0 and 1 pin the years
      val date = f"$year-${1 + rnd.nextInt(12)}%02d-${1 + rnd.nextInt(28)}%02d"
      set("FECHA_HOML", if (r > 1 && rnd.nextInt(10) == 0) "-" else date)
      set("PESO_BRUTO_VH_KG", if (r > 0 && rnd.nextInt(10) == 0) "-" else (1000 + rnd.nextInt(3500)).toString)
      set("CODIGO_INFORME_TECNICO", code)
      set("FOOT_PRINT_MT2", f"${3.0 + rnd.nextDouble() * 2}%.2f")
      set("CATEGORIA_VH", Seq("Liviano", "Mediano")(rnd.nextInt(2)))
      set("EMIS_NORMA", Seq("Euro 6b", "EPA Tier 3", "Euro 5")(rnd.nextInt(3)))
      set("TIPO_CARROCERIA", Seq("SUV", "Sedán", "Hatchback")(rnd.nextInt(3)))
      set("TRANSMISION", Seq("Automática", "Manual")(rnd.nextInt(2)))
      def num(scale: Double) = if (rnd.nextInt(8) == 0) "-" else f"${rnd.nextDouble() * scale}%.2f"
      Seq("EMIS_CO2_GKM", "MIXTO_REND_COMBUSTIBLE_KML", "REND_EV_VH_KMKWH", "COMB_REND_WLTC_KML",
        "REND_LOW_H2_KG_100_KM_FCEV_VH_CELDA", "MIXTO_REND_GASOL_VH_GLP_GNC_KML",
        "CO2_VH_GASOL_GLP_GNC_GRKM", "CO2_PHEV_REND_PONDERADO_VH_GKM").foreach(t => set(t, num(200)))
      (gasLabels ++ euLabels).foreach { case (t, _) => set(t, num(1)) }
      row(n - 1) = if (rnd.nextBoolean()) "1" else ""
      row.toSeq.map(v => if (v.isEmpty) null else v)
    }
    val notFound = names.count { case (s, c) => c.isEmpty && usedNames(s) }
    val headerRows = header.toSeq.map(_.toSeq)
    (headerRows ++ data,
      Truth("", shape.rows, y0, y1, notFound, usedNames.size, headerRows.size + data.size,
        matches.toMap, unmatched.toSet, bev.toSet))
  }

  final case class CatRow(cod: String, name: String, rut: String)

  // The stages lowercase IMPORTADOR before the fuzzy join, so catalog
  // names are lowercase, spelled from a..m only; unrelated names use
  // n..z only, so they share no character with any catalog name.
  private val catSyl = Seq("ba", "ca", "da", "fe", "gi", "la", "ma", "ke", "lid", "mec", "hal",
    "bed", "jim", "del")
  private val otherSyl = Seq("po", "tru", "vos", "zur", "nox", "wy", "st", "ry")

  /** Names unique after junk stripping. */
  private def catalogRows(rnd: Random, n: Int): IndexedSeq[CatRow] = {
    val seen = mutable.Set.empty[String]
    val out = mutable.ArrayBuffer.empty[CatRow]
    def word(k: Int) = (0 until k).map(_ => catSyl(rnd.nextInt(catSyl.size))).mkString
    while (out.size < n) {
      val name = Seq(word(3), word(2), word(2), Seq("cia", "ebl", "ldm")(rnd.nextInt(3))).mkString(" ")
      if (seen.add(stripJunk(name))) {
        val num = 10000000 + rnd.nextInt(89999999)
        val dv = "0123456789K" (rnd.nextInt(11))
        val rut = f"${num / 1000000}%d.${num / 1000 % 1000}%03d.${num % 1000}%03d-$dv"
        out += CatRow(s"IMP$num$dv", name, rut)
      }
    }
    out.toIndexedSeq
  }

  /** The Legacy scorer's junk set (tab, dot, space, hyphen). */
  def stripJunk(s: String): String = s.replaceAll("[\\t\\. \\-]+", "")

  private def junkVariant(rnd: Random, name: String): String = {
    val junk = Seq("\t", ".", " ", "-", "  ", " - ")
    val sb = new StringBuilder
    name.foreach { ch =>
      sb += ch
      if (rnd.nextInt(6) == 0) sb ++= junk(rnd.nextInt(junk.size))
    }
    val v = sb.toString
    if (v == name) v + "." else v
  }

  private def unrelatedName(rnd: Random, g: Int, k: Int): String = {
    def w = (0 until 2 + rnd.nextInt(2)).map(_ => otherSyl(rnd.nextInt(otherSyl.size))).mkString
    val id = s"${g}x$k".map(c => if (c.isDigit) ('n' + (c - '0')).toChar else c)
    s"$w $w $id"
  }

  /** The starting mapping store: every flattened header the rules engine
    * would not standardize onto its target is registered under it. Found
    * by replaying every grid through HeaderIdentify + batchStandardize
    * until a fixed point, then checked once more. */
  private def startingStore(grids: Seq[(Layout, Seq[Seq[String]])]): HeaderRules = {
    val forced = mutable.LinkedHashMap.empty[String, String] // flat header -> target
    def fresh(): HeaderRules = {
      val r = new HeaderRules()
      forced.groupBy(_._2).toSeq.sortBy(_._1).foreach { case (target, fs) =>
        r.mappings(target) = (mutable.Buffer(fs.keys.toSeq.sorted: _*),
          mutable.Buffer(fs.keys.toSeq.sorted.map(r.computeHash): _*))
      }
      r
    }
    def replay(): Seq[(String, String, String)] = { // (flat, got, want) mismatches
      val rules = fresh()
      grids.flatMap { case (layout, prefix) =>
        val ident = HeaderIdentify.identify(prefix)
        val cols = layout.columns
        val std = rules.batchStandardize(ident.names.map(_._2))
        ident.names.flatMap { case (i, flat) =>
          val want = cols(i).target
          val got = std(flat)
          if (want.nonEmpty && got != want) Some((flat, got, want))
          else if (want.isEmpty && requiredTargets(got)) Some((flat, got, s"<not $got>"))
          else None
        }
      }
    }
    var round = 0
    var bad = replay()
    while (bad.nonEmpty && round < 8) {
      bad.foreach { case (flat, _, want) =>
        require(!want.startsWith("<"), s"extra column '$flat' standardizes onto a required name")
        forced(flat) = want
      }
      round += 1
      bad = replay()
    }
    require(bad.isEmpty, s"headers do not standardize onto their targets: ${bad.take(5)}")
    // every grid must yield each required target exactly once
    val rules = fresh()
    grids.foreach { case (layout, prefix) =>
      val ident = HeaderIdentify.identify(prefix)
      val got = ident.names.map { case (_, flat) => rules.standardizeHeader(flat) }
      val missing = requiredTargets -- got
      require(missing.isEmpty, s"layout $layout loses columns ${missing.mkString(",")}")
      require(got.distinct.size == got.size, s"layout $layout standardizes two columns onto one name")
    }
    fresh()
  }

  private def csvLine(row: Seq[String]): String =
    row.map {
      case null => ""
      case v if v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\t') =>
        "\"" + v.replace("\"", "\"\"") + "\""
      case v => v
    }.mkString(",")

  private def writeLines(p: Path, lines: Seq[String]): Unit =
    Files.write(p, (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

  private def writeTruths(p: Path, truths: Seq[Truth]): Unit = {
    val arr = om.createArrayNode()
    truths.foreach { t =>
      val o = arr.addObject()
      o.put("grid", t.grid); o.put("rows", t.rows); o.put("y0", t.y0); o.put("y1", t.y1)
      o.put("not_found", t.notFound); o.put("names", t.names); o.put("records", t.records)
      val m = o.putObject("matches")
      t.matches.toSeq.sorted.foreach { case (code, (imp, rut)) =>
        val e = m.putArray(code); e.add(imp); e.add(rut)
      }
      val u = o.putArray("unmatched"); t.unmatched.toSeq.sorted.foreach(u.add)
      val b = o.putArray("bev"); t.bev.toSeq.sorted.foreach(b.add)
    }
    Files.writeString(p, om.writeValueAsString(arr))
  }

  private def readTruths(p: Path): IndexedSeq[Truth] = {
    val root = om.readTree(Files.readString(p))
    (0 until root.size()).map { i =>
      val o = root.get(i)
      val m = mutable.Map.empty[String, (String, String)]
      o.get("matches").properties().forEach(e => m(e.getKey) = (e.getValue.get(0).asText, e.getValue.get(1).asText))
      def strs(k: String) = (0 until o.get(k).size()).map(j => o.get(k).get(j).asText).toSet
      Truth(o.get("grid").asText, o.get("rows").asInt, o.get("y0").asInt, o.get("y1").asInt,
        o.get("not_found").asInt, o.get("names").asInt, o.get("records").asInt, m.toMap,
        strs("unmatched"), strs("bev"))
    }
  }
}
