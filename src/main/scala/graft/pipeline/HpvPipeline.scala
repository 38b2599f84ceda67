package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ingest.Workbook
import graft.ops.{Clean, Combine, Derive, Reshape, Rollup}

/** The reference pipeline (`/root/reference/src/main.py:17-120`)
  * re-expressed Spark-first: every step is a lazy DataFrame transform, so
  * Catalyst collapses the per-file projection chain into ~one Project and
  * pushes the null/sentinel filters below the unions (SURVEY.md §4.2).
  *
  * Semantics notes honored (SURVEY.md §2.8): N1 (dropna before sentinel
  * replace), N2 (full-frame replace), N3 (fail-loud pivot grain), N5
  * (gender rollup before year rollup, second rollup over base ∪ first),
  * N6 (gender defaults Male), N7 (per-file metadata before union), N8
  * (row order never relied on).
  *
  * Deliberate divergences (SURVEY.md §7.4): D1 initcap word semantics,
  * D2 all-null groups sum to null (SQL), D3 metadata columns always
  * present (null when unmatched), D4 duplicate grain reported with keys,
  * D5 single scan per workbook. Additionally D6: rows whose rollup keys
  * are null (a sentinel in a key column) DO form null-key groups (SQL
  * GROUP BY), where pandas groupby silently drops them.
  */
object HpvPipeline {

  /** Opt-in pandas-exact compatibility (round 11): flips the documented
    * D1/D2/D6 divergences to reproduce the reference byte-for-byte —
    * `str.title` capitalization after any non-alpha, all-null groups
    * summing to 0, null-key rows dropped from rollup re-aggregation.
    * [[Compat.Off]] (default) keeps the engine's SQL semantics, which
    * the register argues are the better ones and which every oracle
    * encodes. [[Compat.PandasExact]] completes reference parity to the
    * letter for migrations that diff outputs against the legacy run.
    */
  final case class Compat(
      pandasTitle: Boolean = false,
      rollup: Rollup.PandasCompat = Rollup.PandasCompat())
  object Compat {
    val Off: Compat = Compat()
    val PandasExact: Compat =
      Compat(pandasTitle = true, rollup = Rollup.PandasCompat(
        allNullSumZero = true, dropNullKeyGroups = true))
  }

  val IdCol = "Local authority"
  val Grain: Seq[String] = Seq(
    "Borough_Name", "Year_Group_Number", "Gender_Name",
    "Academic_Year_End_Date", "Academic_Year_Text", "Date_Extract")
  val Measures: Seq[String] = Seq("Students_Total", "Students_Vaccinated")

  /** Fixed destination schema (reference `docs/Create HPV Table.sql:1-10`). */
  val OutputSchema: StructType = StructType(Seq(
    StructField("BOROUGH_NAME", StringType),
    StructField("YEAR_GROUP_NUMBER", StringType),
    StructField("GENDER_NAME", StringType),
    StructField("STUDENTS_TOTAL", LongType),
    StructField("STUDENTS_VACCINATED", LongType),
    StructField("ACADEMIC_YEAR_END_DATE", IntegerType),
    StructField("ACADEMIC_YEAR_TEXT", StringType),
    StructField("DATE_EXTRACT", DateType)))

  /** Per-file transform (`main.py:24-74`): clean → drop-by-name → melt →
    * derive → pivot (asserted) → rename → per-file metadata (N7).
    */
  def perFile(wb: Workbook, extractDate: LocalDate,
      compat: Compat = Compat.Off): DataFrame = {
    val cleaned = wb.data.withColumn(IdCol,
      if (compat.pandasTitle) Derive.cleanNamePandasTitle(col(IdCol))
      else Derive.cleanName(col(IdCol)))
    val pruned = Clean.dropColumnsWhere(
      cleaned, c => c != IdCol && (c.contains("%") || c.contains("2 doses")))
    val melted = Reshape.unpivot(pruned, Seq(IdCol))
    val derived = melted
      .withColumn("Year Group", Derive.yearGroupFromHeader(col("Category")))
      .withColumn("Gender", Derive.genderFromHeader(col("Category")))
      .withColumn("Metric", Derive.metricFromHeader(col("Category")))
    val pivoted = Reshape.pivotAsserted(
      derived, Seq(IdCol, "Year Group", "Gender"), "Metric",
      Seq("Number", "Number_Vaccinated"), "Value")
    pivoted
      .withColumnsRenamed(Map(
        IdCol -> "Borough_Name",
        "Year Group" -> "Year_Group_Number",
        "Gender" -> "Gender_Name",
        "Number" -> "Students_Total",
        "Number_Vaccinated" -> "Students_Vaccinated"))
      .withColumn("Academic_Year_End_Date",
        lit(Derive.academicYearEnd(wb.a1).map(Integer.valueOf).orNull).cast(IntegerType))
      .withColumn("Academic_Year_Text",
        lit(Derive.academicYearText(wb.a1).orNull).cast(StringType))
      .withColumn("Date_Extract", lit(java.sql.Date.valueOf(extractDate)))
  }

  /** Combine phase (`main.py:77-120`): union (U1) → dropna (P3, N1) →
    * sentinel replace (P4, N2) → numeric cast → Both/All rollups (A3,
    * N5) → uppercase column names (P6).
    */
  def combine(perFiles: Seq[DataFrame],
      compat: Compat = Compat.Off): DataFrame = {
    val unioned = Combine.unionByNameAll(perFiles)
    val dropped = Clean.dropNullRows(unioned, Measures)
    val scrubbed = Clean.sentinelsToNull(dropped)
    val typed = scrubbed
      .withColumn("Students_Total", trim(col("Students_Total")).cast(LongType))
      .withColumn("Students_Vaccinated", trim(col("Students_Vaccinated")).cast(LongType))
    val rolled = Rollup.byUnion(
      typed, Grain, Measures,
      roll1 = ("Gender_Name", "Both"), roll2 = ("Year_Group_Number", "All"),
      compat = compat.rollup)
    rolled.toDF(rolled.columns.map(_.toUpperCase).toIndexedSeq: _*)
  }

  /** D7: academic years that appear in MORE THAN ONE workbook. The
    * reference (src/main.py:77 + the 6-key rollups at :91-114) silently
    * double-counts such files — every measure for that year is summed
    * twice. Faithful execution keeps that behavior, but the engine
    * surfaces it: driver-side metadata check, zero jobs.
    */
  def duplicateAcademicYears(workbooks: Seq[Workbook]): Seq[(Option[Int], Int)] =
    workbooks.groupBy(wb => Derive.academicYearEnd(wb.a1))
      .collect { case (yr, ws) if ws.size > 1 => (yr, ws.size) }
      .toSeq.sortBy(_._1)

  /** Full pipeline: workbooks → fact table, with the output-schema
    * assertion the reference delegates to its destination DDL.
    */
  def transform(workbooks: Seq[Workbook], extractDate: LocalDate = LocalDate.now(),
      compat: Compat = Compat.Off): DataFrame = {
    duplicateAcademicYears(workbooks).foreach { case (yr, n) =>
      System.err.println(
        s"[hpv] WARNING (D7): academic year ${yr.getOrElse("<unparsed>")} appears in $n " +
          "workbooks — reference semantics double-count it in the rollups")
    }
    val out = combine(workbooks.map(perFile(_, extractDate, compat)), compat)
      .select(OutputSchema.fieldNames.map(col).toIndexedSeq: _*)
    val got = out.schema.fields.map(f => f.name -> f.dataType).toSeq
    val want = OutputSchema.fields.map(f => f.name -> f.dataType).toSeq
    require(got == want, s"output schema mismatch: got $got, want $want")
    out
  }
}
