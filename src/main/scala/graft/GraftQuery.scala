package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared engine query: a Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same fixture tables. `headline` marks the representative
  * subset used for plan review (PlanDump's default set); Bench times
  * ALL registered queries.
  *
  * `prepare` stages a one-time build so Bench can time it SEPARATELY
  * from `run`, the steady-state probe. Bench reports both (`builds`
  * map + probe in `queries`) and counts both in the total. Declare it
  * through [[GraftQuery.staged]], never by hand.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false,
    doc: String = "",
    prepare: Option[(SparkSession, String) => Unit] = None)

object GraftQuery {
  private val slots = new java.util.concurrent.ConcurrentHashMap[String, Any]()

  /** A query split into a one-time `build` and a `probe` over what it
    * built. The contract:
    *
    *  - `prepare` runs `build` and stages the result in ONE slot keyed
    *    by the query name, written only after `build` returns — a build
    *    that throws stages nothing.
    *  - `run` takes the slot before `probe` starts, so a staged build is
    *    consumed exactly once, even when the probe throws: a later run
    *    never sees frames whose cache blocks Bench swept in between.
    *  - With nothing staged (Verify, specs, a failed prepare) `run`
    *    builds inline — the same expression, so both paths run the
    *    same plan and return identical results.
    *  - A build shared ACROSS queries goes through a memo inside
    *    `build`; the slot itself never outlives one run.
    */
  def staged[B](
      name: String,
      build: (SparkSession, String) => B,
      probe: (SparkSession, String, B) => DataFrame,
      oracle: Option[String],
      headline: Boolean = false,
      doc: String = ""): GraftQuery =
    GraftQuery(name,
      (s, d) => probe(s, d,
        Option(slots.remove(name)).map(_.asInstanceOf[B]).getOrElse(build(s, d))),
      oracle, headline, doc,
      prepare = Some((s, d) => { slots.put(name, build(s, d)); () }))
}
