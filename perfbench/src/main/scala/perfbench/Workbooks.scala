package perfbench

import java.io.ByteArrayOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Seeded generator of reference-format HPV coverage workbooks, plus the
  * fact rows the pipeline must produce from them, computed in plain Scala.
  *
  * A workbook is one academic year: the A1 banner names the year, the
  * header sits on sheet row 3, and each local authority has Year 8/9/10 ×
  * females/males × (Number, Number vaccinated, % vaccinated) columns and
  * a `2 doses` column. Measures carry the NHS suppression sentinels
  * (`*`, `[E]`, `[DS]`) and some empty cells; authority names arrive with
  * random case and stray whitespace.
  *
  * The expected rows follow the reference semantics: a row whose Number
  * or Number vaccinated cell is empty is dropped (dropna runs before the
  * sentinel scrub), a sentinel becomes a null measure that sums skip, and
  * the gender rollup (`Both`) feeds the year-group rollup (`All`).
  */
object Workbooks {

  val SheetName = "Local_authority"
  val YearGroups: Seq[String] = Seq("8", "9", "10")
  val Genders: Seq[(String, String)] = Seq("females" -> "Female", "males" -> "Male")
  val Sentinels: Seq[String] = Seq("*", "[E]", "[DS]")

  /** One measure cell as written: a number (`raw` is its text, possibly
    * padded), a sentinel, or empty.
    */
  sealed trait Cell
  final case class Num(raw: String, value: Long) extends Cell
  final case class Sentinel(text: String) extends Cell
  case object Empty extends Cell

  /** A measure pair for one (authority, year group, gender). */
  final case class Measure(number: Cell, vaccinated: Cell)

  final case class Authority(name: String, measures: Map[(String, String), Measure])

  final case class Sheet(yearEnd: Int, authorities: Seq[Authority]) {
    def banner: String =
      s"HPV vaccination coverage by local authority: September ${yearEnd - 1} to August $yearEnd"
    def yearText: String = s"September ${yearEnd - 1} to August $yearEnd"
  }

  /** One output row of the fact table (null measures as None). */
  final case class FactRow(
      borough: String, yearGroup: String, gender: String,
      total: Option[Long], vaccinated: Option[Long], yearEnd: Int)

  /** Per (academic year, year group, gender) check values. */
  final case class Totals(rows: Long, total: Option[Long], vaccinated: Option[Long])

  private val Syllables = Seq(
    "bar", "ken", "ham", "wick", "ton", "ley", "mere", "ford", "den", "stow",
    "brook", "field", "wood", "gate", "hurst", "well", "dale", "by", "worth", "combe")

  /** Distinct authority names: two-word, letters only, unique once
    * trimmed and title-cased (the pipeline's name cleaning).
    */
  def authorityName(i: Int): String = {
    val n = Syllables.size
    val a = Syllables(i % n) + Syllables((i / n) % n)
    val b = Syllables((i / (n * n)) % n) + Syllables((i * 7 + 3) % n)
    s"$a $b"
  }

  /** Random case plus stray leading/trailing whitespace. */
  private def messy(name: String, rnd: scala.util.Random): String = {
    val cased = name.map(c => if (rnd.nextInt(3) == 0) c.toUpper else c)
    val pad = Seq("", " ", "  ") // spaces only: the pipeline trims spaces
    pad(rnd.nextInt(pad.size)) + cased + pad(rnd.nextInt(pad.size))
  }

  private def cell(v: Long, rnd: scala.util.Random): Cell = {
    val r = rnd.nextInt(100)
    if (r < 3) Sentinel(Sentinels(rnd.nextInt(Sentinels.size)))
    else if (r < 5) Empty
    else if (r < 15) Num(s" $v ", v) // text cell with padding: trimmed before the cast
    else Num(v.toString, v)
  }

  /** The workbook for `yearEnd`, fully determined by (`seed`, `yearEnd`,
    * `version`, `authorities`).
    */
  def sheet(seed: Long, yearEnd: Int, authorities: Int, version: Int = 0): Sheet = {
    val rnd = new scala.util.Random(seed * 1000003L + yearEnd * 131L + version)
    val las = (0 until authorities).map { i =>
      val measures = for {
        yg <- YearGroups
        (_, g) <- Genders
      } yield {
        val number = 500L + rnd.nextInt(3500)
        val vaccinated = number * (50 + rnd.nextInt(46)) / 100
        (yg, g) -> Measure(cell(number, rnd), cell(vaccinated, rnd))
      }
      Authority(messy(authorityName(i), rnd), measures.toMap)
    }
    Sheet(yearEnd, las)
  }

  /** `n` workbooks for consecutive academic years ending at `firstYear`.. */
  def fleet(seed: Long, n: Int, authorities: Int, firstYear: Int = 2000): Seq[Sheet] =
    (0 until n).map(i => sheet(seed, firstYear + i, authorities))

  // ---- the workbook file ----

  val Header: Seq[String] =
    "Local authority" +: (for {
      yg <- YearGroups
      (g, _) <- Genders
      m <- Seq("Number", "Number vaccinated", "% vaccinated")
    } yield s"Year $yg $g: $m") :+ "Year 10 females: 2 doses"

  /** The sheet as a cell grid, row 0 = sheet row 1 (null = no cell). */
  def grid(s: Sheet): Seq[Seq[String]] = {
    def text(c: Cell): String = c match {
      case Num(raw, _) => raw
      case Sentinel(t) => t
      case Empty => null
    }
    val rows = s.authorities.map { a =>
      a.name +: (for {
        yg <- YearGroups
        (_, g) <- Genders
        m = a.measures((yg, g))
        pct = (m.number, m.vaccinated) match {
          case (Num(_, n), Num(_, v)) if n > 0 =>
            String.format(java.util.Locale.ROOT, "%.1f", Double.box(v * 100.0 / n))
          case _ => "*"
        }
        t <- Seq(text(m.number), text(m.vaccinated), pct)
      } yield t) :+ (a.measures(("10", "Female")).vaccinated match {
        case Num(_, v) => (v * 9 / 10).toString
        case _ => "[DS]"
      })
    }
    Seq(Seq(s.banner), Seq("Source: synthetic benchmark extract"), Header) ++ rows
  }

  /** Number of cells the grid holds (what the reader parses). */
  def cellCount(s: Sheet): Long = grid(s).map(_.count(_ != null).toLong).sum

  private def colName(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else colName(i / 26 - 1) + colName(i % 26)

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def numeric(s: String): Boolean =
    s.nonEmpty && s.forall(c => c.isDigit || c == '.') && s.count(_ == '.') <= 1

  private def sheetXml(g: Seq[Seq[String]]): String = {
    val b = new StringBuilder
    b ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    b ++= """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    g.zipWithIndex.foreach { case (row, r) =>
      b ++= s"""<row r="${r + 1}">"""
      row.zipWithIndex.foreach {
        case (null, _) =>
        case (v, c) =>
          val ref = colName(c) + (r + 1)
          if (numeric(v)) b ++= s"""<c r="$ref"><v>$v</v></c>"""
          else b ++= s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${escape(v)}</t></is></c>"""
      }
      b ++= "</row>"
    }
    b ++= "</sheetData></worksheet>"
    b.toString
  }

  private val ContentTypes =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
      """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
      "</Types>"

  private val RootRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
      "</Relationships>"

  private val WorkbookXml =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" """ +
      """xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
      s"""<sheets><sheet name="$SheetName" sheetId="1" r:id="rId1"/></sheets></workbook>"""

  private val WorkbookRels =
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
      """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
      "</Relationships>"

  /** The `.xlsx` bytes. Entry timestamps are fixed, so the same sheet
    * always gives the same bytes.
    */
  def xlsx(s: Sheet): Array[Byte] = {
    val bytes = new ByteArrayOutputStream()
    val zip = new ZipOutputStream(bytes)
    Seq(
      "[Content_Types].xml" -> ContentTypes,
      "_rels/.rels" -> RootRels,
      "xl/workbook.xml" -> WorkbookXml,
      "xl/_rels/workbook.xml.rels" -> WorkbookRels,
      "xl/worksheets/sheet1.xml" -> sheetXml(grid(s))
    ).foreach { case (name, body) =>
      val e = new ZipEntry(name)
      e.setTime(315532800000L) // 1980-01-01, the zip epoch
      zip.putNextEntry(e)
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    }
    zip.close()
    bytes.toByteArray
  }

  def write(s: Sheet, path: java.nio.file.Path): Unit =
    java.nio.file.Files.write(path, xlsx(s))

  // ---- the expected fact table ----

  private def titleCase(name: String): String =
    name.trim.split(" ", -1).map(w => w.take(1).toUpperCase + w.drop(1).toLowerCase).mkString(" ")

  private def value(c: Cell): Option[Long] = c match {
    case Num(_, v) => Some(v)
    case _ => None
  }

  private def sumOpt(xs: Iterable[Option[Long]]): Option[Long] =
    xs.flatten.reduceOption(_ + _)

  /** The fact rows `HpvPipeline.transform(Seq(s))` produces. */
  def factRows(s: Sheet): Seq[FactRow] = {
    // dropna: a base row needs both measure cells present
    val base = for {
      a <- s.authorities
      yg <- YearGroups
      (_, g) <- Genders
      m = a.measures((yg, g))
      if m.number != Empty && m.vaccinated != Empty
    } yield FactRow(titleCase(a.name), yg, g, value(m.number), value(m.vaccinated), s.yearEnd)
    def roll(rows: Seq[FactRow], key: FactRow => (String, String), relabel: FactRow => FactRow) =
      rows.groupBy(key).values.map { grp =>
        relabel(grp.head).copy(
          total = sumOpt(grp.map(_.total)), vaccinated = sumOpt(grp.map(_.vaccinated)))
      }.toSeq
    val both = roll(base, r => (r.borough, r.yearGroup), _.copy(gender = "Both"))
    val withBoth = base ++ both
    val all = roll(withBoth, r => (r.borough, r.gender), _.copy(yearGroup = "All"))
    withBoth ++ all
  }

  /** Check values per (academic year, year group, gender). */
  def totals(rows: Iterable[FactRow]): Map[(Int, String, String), Totals] =
    rows.groupBy(r => (r.yearEnd, r.yearGroup, r.gender)).map { case (k, grp) =>
      k -> Totals(grp.size.toLong, sumOpt(grp.map(_.total)), sumOpt(grp.map(_.vaccinated)))
    }

  /** Lay out a run's workbooks under `dir`, one file per sheet. */
  def writeAll(sheets: Seq[Sheet], dir: java.nio.file.Path): Seq[String] = {
    java.nio.file.Files.createDirectories(dir)
    sheets.map { s =>
      val p = dir.resolve(f"hpv_${s.yearEnd}%04d.xlsx")
      write(s, p)
      p.toString
    }
  }
}
