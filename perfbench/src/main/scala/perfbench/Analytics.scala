package perfbench

import java.nio.file.{Files, Path}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftQuery

/** analytics_mix: registered engine queries on fixed TPC-H-style tables,
  * one query per op, always in the same order: the tables are the
  * committed fixtures, so the seed changes nothing here, and a fixed
  * order keeps each query's predecessors (and so its cache and heap
  * state) the same from run to run.
  *
  * An op is prepare + run + `noop` write + `Lineage.release` — the
  * accounting of `graft.Bench`'s total. The write carries a
  * `Dataset.observe` of the row count and an order-insensitive sum of
  * row hashes, compared against values derived from the queries' DuckDB
  * oracle SQL (`perfbench/expected.py`), so checking costs no second
  * execution.
  */
object Analytics {

  /** Short ids of the mix: relational and TPC-H shapes (aggregate,
    * multi-way join, nested subquery, ntile segments), text dedup and
    * language id (SimHash; MinHash and a trained language id, both with
    * staged builds), a graph loop (k-core), an ANN index with a staged
    * build (IVF) and one streaming build (substring index). Queries that
    * take well under a second at this scale are left out: their time is
    * mostly scheduling latency, which swings with host contention and
    * would make the median op measure the host rather than the engine.
    * The HTML and Levenshtein kernels they would add are timed per row
    * by the traced run instead.
    */
  val Mix: Seq[String] = Seq(
    "q01", "q05", "q72", "q192",
    "q36", "q55", "q217",
    "q144",
    "q48",
    "q213")

  def shortId(q: GraftQuery): String = q.name.takeWhile(_ != '_')

  def queries(ids: Seq[String]): Seq[GraftQuery] = {
    val byId = graft.Registry.all.map(q => shortId(q) -> q).toMap
    ids.map(id => byId.getOrElse(id, throw new IllegalArgumentException(s"no query $id")))
  }

  /** Expected (rows, hash sum) per query name. */
  def readExpected(path: Path): Map[String, (Long, BigDecimal)] =
    Files.readAllLines(path).asScala.filterNot(l => l.isEmpty || l.startsWith("#")).map { l =>
      val Array(name, rows, hash) = l.split("\t")
      name -> (rows.toLong, BigDecimal(hash))
    }.toMap

  /** Each row rendered as its cells' strings (floating-point values
    * rounded to six decimals), columns in name order and joined by
    * U+0001, then md5'd; the first 15 hex digits are summed exactly.
    * `expected.py` renders DuckDB's rows the same way.
    */
  def hashSum(df: DataFrame): Column = {
    val cells = df.schema.fields.sortBy(_.name).map { f =>
      val c = f.dataType match {
        case DoubleType | FloatType => col(f.name).try_cast(DecimalType(38, 6))
        case _ => col(f.name)
      }
      coalesce(c.cast(StringType), lit("NULL"))
    }
    val h = md5(concat_ws("\u0001", cells.toIndexedSeq: _*))
    sum(conv(substring(h, 1, 15), 16, 10).cast(DecimalType(38, 0)))
  }

  final class Mix(spark: SparkSession, work: Path, data: Path) extends Workload {
    private val timedData = data.resolve("sf0.01")
    private val warmData = data.resolve("sf0.001")
    private val order = queries(Mix)
    private val expected = readExpected(data.resolve("expected_sf0.01.tsv"))

    /** Several queries memoise what they trained per data directory, so
      * every round reads its own copy of the tables: round 0 the
      * committed files, later rounds copies made here.
      */
    private def roundDir(r: Int): Path =
      if (r == 0) timedData
      else {
        val d = work.resolve(s"analytics/round_$r")
        Files.createDirectories(d)
        Files.list(timedData).iterator().asScala.foreach(f =>
          Files.copy(f, d.resolve(f.getFileName), java.nio.file.StandardCopyOption.REPLACE_EXISTING))
        d
      }

    def prepare(): Unit = {
      val missing = Mix.filterNot(id => expected.keys.exists(_.takeWhile(_ != '_') == id))
      require(missing.isEmpty, s"no expected values for ${missing.mkString(", ")}")
    }

    private def hygiene(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    /** One query op; returns the observed (rows, hash sum). */
    private def op(q: GraftQuery, dir: String): (Long, BigDecimal) = Trace.span("op.query") {
      val id = shortId(q)
      q.prepare.foreach(p => Trace.span(s"queries.$id.build")(p(spark, dir)))
      val df = Trace.span(s"queries.$id.run")(q.run(spark, dir))
      val obs = Observation(s"check_$id")
      Trace.span(s"queries.$id.exec") {
        df.observe(obs, count(lit(1)).as("rows"), hashSum(df).as("hash"))
          .write.format("noop").mode("overwrite").save()
      }
      Trace.span(s"queries.$id.release")(graft.operators.Lineage.release(df, blocking = true))
      val row = Await.result(obs.future, 60.seconds)
      val hash = if (row.isNullAt(1)) BigDecimal(0) else BigDecimal(row.getDecimal(1))
      (row.getLong(0), hash)
    }

    def warmUp(): Unit = order.foreach { q =>
      op(q, warmData.toString)
      hygiene()
    }

    def round(r: Int): Seq[Op] = {
      val dir = roundDir(r).toString
      order.map { q =>
        val (t, got) = Op.time(op(q, dir))
        hygiene()
        val want = expected.get(q.name)
        if (got.isDefined && got != want)
          System.err.println(s"[perfbench] ${q.name}: observed $got, expected $want")
        Layers.add(s"queries.${shortId(q)}.s", t)
        Op(q.name, t, got.isDefined && got == want)
      }
    }

    def finish(): Workload.Finish = Workload.Finish(Nil, 0L)
  }
}
