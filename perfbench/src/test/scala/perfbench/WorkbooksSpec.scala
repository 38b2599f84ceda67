package perfbench

import java.nio.file.Files
import java.time.LocalDate

import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.Xlsx
import graft.pipeline.HpvPipeline

class WorkbooksSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.core.Sessions.local(2)

  override def afterAll(): Unit = spark.stop()

  test("the same seed gives byte-identical workbooks") {
    val a = Workbooks.fleet(seed = 11, n = 3, authorities = 40).map(Workbooks.xlsx)
    val b = Workbooks.fleet(seed = 11, n = 3, authorities = 40).map(Workbooks.xlsx)
    val c = Workbooks.fleet(seed = 12, n = 3, authorities = 40).map(Workbooks.xlsx)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    assert(!java.util.Arrays.equals(a.head, c.head))
  }

  test("the reader sees the generated grid") {
    val s = Workbooks.sheet(seed = 5, yearEnd = 2020, authorities = 30)
    val p = Files.createTempFile("perfbench", ".xlsx")
    try {
      Workbooks.write(s, p)
      val read = Xlsx.readGrid(p.toString, Workbooks.SheetName)
      def trimmed(g: Seq[Seq[String]]) = g.map(_.reverse.dropWhile(_ == null).reverse)
      assert(trimmed(read) == trimmed(Workbooks.grid(s)))
    } finally Files.delete(p)
  }

  test("the generator's expected fact table equals HpvPipeline.transform on three workbooks") {
    val dir = Files.createTempDirectory("perfbench")
    val sheets = Workbooks.fleet(seed = 3, n = 3, authorities = 60)
    // the fixture must exercise every cell kind the semantics distinguish
    val cells = sheets.flatMap(_.authorities).flatMap(_.measures.values)
      .flatMap(m => Seq(m.number, m.vaccinated))
    assert(cells.exists(_ == Workbooks.Empty))
    assert(cells.exists(_.isInstanceOf[Workbooks.Sentinel]))
    assert(cells.exists { case Workbooks.Num(raw, _) => raw != raw.trim; case _ => false })

    val paths = Workbooks.writeAll(sheets, dir)
    val fact = HpvPipeline.transform(
      paths.map(Xlsx.readWorkbook(spark, _, Workbooks.SheetName)), LocalDate.of(2026, 1, 1))
    val got = fact.select(col("BOROUGH_NAME"), col("YEAR_GROUP_NUMBER"), col("GENDER_NAME"),
        col("STUDENTS_TOTAL"), col("STUDENTS_VACCINATED"), col("ACADEMIC_YEAR_END_DATE"))
      .collect().toSeq.map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        Workbooks.FactRow(r.getString(0), r.getString(1), r.getString(2), opt(3), opt(4), r.getInt(5))
      }
    val want = sheets.flatMap(Workbooks.factRows)
    assert(Workbooks.totals(got) == Workbooks.totals(want))
    assert(got.sortBy(_.toString) == want.sortBy(_.toString))
  }
}
