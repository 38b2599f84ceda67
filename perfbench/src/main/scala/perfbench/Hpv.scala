package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.ingest.Xlsx
import graft.load.Load
import graft.pipeline.HpvPipeline

/** The HPV workloads: the paper's pipeline (read workbooks, transform,
  * load) driven through the engine's public functions.
  */
object Hpv {

  val Authorities = 150
  val ExtractDate: LocalDate = LocalDate.of(2026, 1, 1)
  private val YearCol = "ACADEMIC_YEAR_END_DATE"

  type Expected = Map[(Int, String, String), Workbooks.Totals]

  /** Data files under a table directory: (bytes, count). */
  def tableFiles(dir: Path): (Long, Long) =
    if (!Files.exists(dir)) (0L, 0L)
    else {
      val files = Files.walk(dir).iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.startsWith(".")
          && !p.getFileName.toString.startsWith("_"))
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }

  /** Destination read back and checked against the generator's totals:
    * the row count and per (year, year group, gender) sums. Returns the
    * mismatches, empty when the table is right.
    */
  def check(spark: SparkSession, dest: Path, expected: Expected): Seq[String] = {
    val got = spark.read.parquet(dest.toString)
      .groupBy(col(YearCol), col("YEAR_GROUP_NUMBER"), col("GENDER_NAME"))
      .agg(count(lit(1)), sum(col("STUDENTS_TOTAL")), sum(col("STUDENTS_VACCINATED")))
      .collect()
      .map { r =>
        def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        (r.getInt(0), r.getString(1), r.getString(2)) -> Workbooks.Totals(r.getLong(3), opt(4), opt(5))
      }.toMap
    val rowsGot = got.values.map(_.rows).sum
    val rowsWant = expected.values.map(_.rows).sum
    val keys = (got.keySet ++ expected.keySet).toSeq.sortBy(_.toString)
    val diffs = keys.filter(k => got.get(k) != expected.get(k))
      .map(k => s"$k: got ${got.get(k)}, want ${expected.get(k)}")
    (if (rowsGot != rowsWant) Seq(s"rows: got $rowsGot, want $rowsWant") else Nil) ++ diffs
  }

  private def read(spark: SparkSession, paths: Seq[String]) =
    paths.map(p => Trace.span("ingest.readWorkbook")(Xlsx.readWorkbook(spark, p, Workbooks.SheetName)))

  /** hpv_bulk: each op reads the whole fleet of workbooks, transforms
    * them in one `HpvPipeline.transform` and replaces the destination.
    */
  final class Bulk(spark: SparkSession, seed: Long, work: Path, val files: Int) extends Workload {
    private val dir = work.resolve("bulk")
    private val dest = dir.resolve("dest")
    private var paths: Seq[String] = Nil
    private var expected: Expected = Map.empty
    private var cells = 0L

    def prepare(): Unit = {
      val sheets = Workbooks.fleet(seed, files, Authorities)
      paths = Workbooks.writeAll(sheets, dir.resolve("in"))
      expected = Workbooks.totals(sheets.flatMap(Workbooks.factRows))
      cells = sheets.map(Workbooks.cellCount).sum
    }

    private def bulk(in: Seq[String], to: Path): Long = Trace.span("op.bulk") {
      val workbooks = read(spark, in)
      val fact = Trace.span("pipeline.transform")(HpvPipeline.transform(workbooks, ExtractDate))
      Trace.span("load.replaceTable")(Load.replaceTable(spark, fact, to.toString).get).rows
    }

    def warmUp(): Unit = {
      val sheets = Workbooks.fleet(seed + Workload.WarmSeed, 2, Authorities)
      val in = Workbooks.writeAll(sheets, work.resolve("warm/bulk/in"))
      (1 to 2).foreach(_ => bulk(in, work.resolve("warm/bulk/dest")))
    }

    def round(r: Int): Seq[Op] = {
      val want = expected.values.map(_.rows).sum
      val (t, rows) = Op.time(bulk(paths, dest))
      val ok = rows.contains(want)
      val (bytes, n) = tableFiles(dest)
      Layers.add("load.rows", rows.getOrElse(0L).toDouble)
      Layers.add("load.bytes_written", bytes.toDouble)
      Layers.add("load.files_written", n.toDouble)
      Layers.add("ingest.cells", cells.toDouble)
      Seq(Op("bulk", t, ok))
    }

    def finish(): Workload.Finish = Workload.Finish(check(spark, dest, expected), tableFiles(dest)._1)
  }

  /** hpv_delta: each op is one workbook arriving — read it, transform it
    * alone and replace its academic-year partition of a table staged
    * during set-up.
    */
  final class Delta(spark: SparkSession, seed: Long, work: Path,
      val years: Int, val perRound: Int) extends Workload {
    private val dir = work.resolve("delta")
    private val dest = dir.resolve("dest")
    private val firstYear = 2000
    private var expected = Map.empty[Int, Expected]
    private val arrivals = new scala.util.Random(seed)
    private var arrived = 0

    /** Stage the partitioned table straight from the generator's fact
      * rows: one single-partition write, with no pipeline run.
      */
    private def stage(sheets: Seq[Workbooks.Sheet], to: Path): Map[Int, Expected] = {
      val rows = sheets.flatMap { s =>
        Workbooks.factRows(s).map(f => Row(f.borough, f.yearGroup, f.gender,
          f.total.map(Long.box).orNull, f.vaccinated.map(Long.box).orNull,
          f.yearEnd, s.yearText, java.sql.Date.valueOf(ExtractDate)))
      }
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), HpvPipeline.OutputSchema)
        .write.mode("overwrite").partitionBy(YearCol).parquet(to.toString)
      sheets.map(s => s.yearEnd -> Workbooks.totals(Workbooks.factRows(s))).toMap
    }

    def prepare(): Unit =
      expected = stage(Workbooks.fleet(seed, years, Authorities, firstYear), dest)

    /** One arrival: the workbook at `in` replaces its year's partition. */
    private def arrive(in: Path, to: Path): Long =
      Trace.span("op.arrival") {
        val workbooks = read(spark, Seq(in.toString))
        val fact = Trace.span("pipeline.transform")(HpvPipeline.transform(workbooks, ExtractDate))
        Trace.span("load.replacePartitions")(
          Load.replacePartitions(spark, fact, to.toString, YearCol).get).rows
      }

    def warmUp(): Unit = {
      val warmSeed = seed + Workload.WarmSeed
      val to = work.resolve("warm/delta/dest")
      stage(Workbooks.fleet(warmSeed, 3, Authorities, firstYear), to)
      Files.createDirectories(work.resolve("warm/delta/in"))
      (1 to 3).foreach { v =>
        val in = work.resolve(s"warm/delta/in/arrival_$v.xlsx")
        Workbooks.write(Workbooks.sheet(warmSeed, firstYear + v % 3, Authorities, v), in)
        arrive(in, to)
      }
    }

    def round(r: Int): Seq[Op] = {
      Files.createDirectories(dir.resolve("in"))
      (1 to perRound).map { _ =>
        arrived += 1
        val year = firstYear + arrivals.nextInt(years)
        val s = Workbooks.sheet(seed, year, Authorities, arrived)
        val facts = Workbooks.factRows(s)
        val in = dir.resolve(s"in/arrival_$arrived.xlsx")
        Workbooks.write(s, in)
        val (t, rows) = Op.time(arrive(in, dest))
        expected = expected.updated(year, Workbooks.totals(facts))
        val (bytes, n) = tableFiles(dest.resolve(s"$YearCol=$year"))
        Layers.add("load.rows", rows.getOrElse(0L).toDouble)
        Layers.add("load.bytes_written", bytes.toDouble)
        Layers.add("load.files_written", n.toDouble)
        Layers.add("ingest.cells", Workbooks.cellCount(s).toDouble)
        Op("arrival", t, rows.contains(facts.size.toLong))
      }
    }

    def finish(): Workload.Finish =
      Workload.Finish(check(spark, dest, expected.values.flatten.toMap), tableFiles(dest)._1)
  }
}
