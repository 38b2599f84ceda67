package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.functions.Exact._

/** Second relational batch: outer joins, IN-subqueries, the SQL
  * frontend (spark.sql over registered views — SURVEY §3.4's SQL
  * passthrough), approximate distinct, and the IVF ANN path.
  */
object Relational2 {

  val queries: Seq[GraftQuery] = Seq(

    // ---- q21: left outer join with null-group accounting ----
    GraftQuery(
      "q21_outer_join",
      (s, d) => {
        val c = Tables.customer(s, d)
        val o = Tables.orders(s, d)
        c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
          .groupBy(col("c_nationkey"))
          .agg(
            countDistinct(col("c_custkey")).as("n_customers"),
            count(col("o_orderkey")).as("n_orders"), // nulls not counted
            sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("n_orderless_rows"))
      },
      Some("""
        SELECT c_nationkey,
          count(DISTINCT c_custkey) AS n_customers,
          count(o_orderkey) AS n_orders,
          CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orderless_rows
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_nationkey
      """)),

    // ---- q22: IN-subquery (semi-join under the hood) ----
    GraftQuery(
      "q22_in_subquery",
      (s, d) => {
        val c = Tables.customer(s, d)
        val urgent = Tables.orders(s, d)
          .where(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")).distinct()
        c.join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"))
      },
      Some("""
        SELECT c_mktsegment, count(*) AS n
        FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        GROUP BY c_mktsegment
      """)),

    // ---- q23: SQL passthrough — GROUPING SETS through spark.sql over
    //      the registered fixture views ----
    GraftQuery(
      "q23_sql_grouping_sets",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql("""
          SELECT
            CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
            CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
            CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
            count(*) AS n
          FROM lineitem
          GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """)
      },
      Some("""
        SELECT
          CASE WHEN grouping(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS rf,
          CASE WHEN grouping(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS ls,
          CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
          count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      """)),

    // ---- q24: approximate distinct (HLL) beside the exact count.
    //      The raw HLL estimate is engine-specific (register layout +
    //      hash differ per engine), so the oracle is reduced-assertion
    //      (q97 precedent): the exact count anchors the hash compare
    //      and `within_rsd` pins the estimate's relative error ≤ 0.06
    //      = 3× the requested rsd 0.02 (measured max 0.006 at sf0.01,
    //      0.033 at sf0.1) — a broken sketch flips the flag and the
    //      row hash. ----
    GraftQuery(
      "q24_approx_distinct",
      (s, d) =>
        // dedup-first formulation: mixing countDistinct with a second
        // aggregate makes Catalyst rewrite through an Expand (2× the
        // input rows, both aggregates over the expansion — measured
        // ~3.5 s at sf0.1). An explicit distinct gets map-side partial
        // dedup, count becomes a plain count, and the HLL sketch —
        // insensitive to duplicates by construction — yields the
        // identical estimate over the deduped rows (~0.6 s).
        Tables.lineitem(s, d)
          .select(col("l_returnflag"), col("l_orderkey")).distinct()
          .groupBy(col("l_returnflag"))
          .agg(
            count(lit(1)).as("exact_orders"),
            approx_count_distinct(col("l_orderkey"), 0.02).as("_approx"))
          .select(col("l_returnflag"), col("exact_orders"),
            (abs(col("_approx") - col("exact_orders"))
              / col("exact_orders") <= 0.06).cast("long").as("within_rsd")),
      Some("""
        SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS exact_orders,
          CAST(1 AS BIGINT) AS within_rsd
        FROM lineitem GROUP BY l_returnflag
      """)),

    // ---- q25: per-file provenance (SURVEY S1 — input_file_name).
    //      Fixtures are one parquet file per table (TESTDATA.md), so the
    //      oracle pins the expected basename + count; the Spark side
    //      genuinely derives it from the scan ----
    GraftQuery(
      "q25_provenance",
      (s, d) =>
        // aggregate on the raw path first so the regexp runs once per
        // FILE (post-agg) instead of once per ROW
        Tables.lineitem(s, d)
          .groupBy(input_file_name().as("path"))
          .agg(count(lit(1)).as("n"))
          .groupBy(regexp_extract(col("path"), "([^/]+)$", 1).as("file"))
          .agg(sum(col("n")).as("n")),
      Some("""
        SELECT 'lineitem.parquet' AS file, count(*) AS n FROM lineitem
      """)),

    // ---- q26: range-frame window (30-day trailing spend) + lead ----
    GraftQuery(
      "q26_window_range",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables.orders(s, d)
          .withColumn("days", datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date")).cast("long"))
        val wRange = Window.partitionBy(col("o_custkey")).orderBy(col("days"))
          .rangeBetween(-30, Window.currentRow)
        val wSeq = Window.partitionBy(col("o_custkey")).orderBy(col("days"), col("o_orderkey"))
        o.select(
          col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(wRange).cast("double").as("spend_30d"),
          lead(col("o_orderkey"), 1).over(wSeq).as("next_orderkey"))
      },
      Some("""
        WITH o AS (
          SELECT o_custkey, o_orderkey, o_totalprice,
            CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days
          FROM orders)
        SELECT o_custkey, o_orderkey,
          CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
            PARTITION BY o_custkey ORDER BY days
            RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d,
          lead(o_orderkey, 1) OVER (
            PARTITION BY o_custkey ORDER BY days, o_orderkey) AS next_orderkey
        FROM o
      """)),

    // ---- q27: JSON extraction over the events props column.
    //      Malformed-tolerant on BOTH sides: Spark's ANSI cast throws on
    //      non-numeric values (try_cast → null) and DuckDB's
    //      json_extract throws on malformed JSON (json_valid guard) —
    //      probed divergences that clean fixtures would have hidden ----
    GraftQuery(
      "q27_json_extract",
      (s, d) =>
        Tables.events(s, d)
          .withColumn("k", get_json_object(col("props"), "$.k").try_cast("long"))
          .groupBy(col("event_type"))
          .agg(
            count(col("k")).as("n_with_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"),
            sum(col("k")).as("sum_k")),
      Some("""
        WITH e AS (
          SELECT event_type,
            TRY_CAST(CASE WHEN json_valid(props)
                          THEN json_extract_string(props, '$.k') END AS BIGINT) AS k
          FROM events)
        SELECT event_type, count(k) AS n_with_k, min(k) AS min_k, max(k) AS max_k,
          CAST(sum(k) AS BIGINT) AS sum_k
        FROM e GROUP BY event_type
      """)),

    // ---- q28: exact interpolated percentiles ----
    GraftQuery(
      "q28_percentiles",
      (s, d) =>
        Tables.orders(s, d)
          .groupBy(col("o_orderstatus"))
          .agg(
            expr("percentile(o_totalprice, 0.25)").as("p25"),
            expr("percentile(o_totalprice, 0.5)").as("p50"),
            expr("percentile(o_totalprice, 0.75)").as("p75")),
      Some("""
        SELECT o_orderstatus,
          quantile_cont(o_totalprice, 0.25) AS p25,
          quantile_cont(o_totalprice, 0.5) AS p50,
          quantile_cont(o_totalprice, 0.75) AS p75
        FROM orders GROUP BY o_orderstatus
      """)),

    // ---- q29: statistical moments via exact decimal sums (built-in
    //      stddev/var over doubles is accumulation-order dependent and
    //      can't hash-match; the explicit-formula version is exact) ----
    GraftQuery(
      "q29_moments",
      (s, d) => {
        val o = Tables.orders(s, d)
        o.groupBy(col("o_orderstatus"))
          .agg(
            count(lit(1)).as("n"),
            sumExact2(col("o_totalprice")).as("s1"),
            sum(dec2(col("o_totalprice")) * dec2(col("o_totalprice"))).cast("double").as("s2"))
          .select(
            col("o_orderstatus"), col("n"),
            (col("s1") / col("n")).as("mean"),
            // s2 reaches ~20 significant digits at sf0.1+, so its
            // decimal→double conversion can differ by 1 ulp between
            // engines; round derived moments far above that noise floor
            round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 4).as("var_samp"),
            round(sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1)), 6).as("stddev_samp"))
      },
      Some("""
        WITH a AS (
          SELECT o_orderstatus, count(*) AS n,
            CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS s1,
            CAST(sum(CAST(o_totalprice AS DECIMAL(12,2)) * CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS s2
          FROM orders GROUP BY o_orderstatus)
        SELECT o_orderstatus, n, s1 / n AS mean,
          round((s2 - s1 * s1 / n) / (n - 1), 4) AS var_samp,
          round(sqrt((s2 - s1 * s1 / n) / (n - 1)), 6) AS stddev_samp
        FROM a
      """)),

    // ---- q48: IVF-flat ANN (scale path #2). Data-dependent float
    //      centroids → no static SQL replica; oracle-checked via the
    //      reduced-assertion route (VectorQueries.bruteTopKRecallOracle):
    //      the output is the exact top-k (DuckDB hash-matches it
    //      bit-for-bit) + a flag pinning IVF's mean recall@10 ≥ 0.6
    //      (measured 0.84 at sf0.01, 1.0 at sf0.1; IvfSpec additionally
    //      pins 0.96 on its fixture) ----
    GraftQuery.staged(
      "q48_ann_ivf",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        (graft.operators.Ivf.build(emb, "vec_id", "embedding", nCentroids = 16),
          VectorQueries.exactAnchors(emb, 10))
      },
      (s, d, built: ((DataFrame, DataFrame), DataFrame)) => {
        val (ix, exact) = built
        val emb = Tables.embeddings(s, d)
        val ann = graft.operators.Ivf.probe(
            ix._1, ix._2, emb.where(col("vec_id") < 5), "vec_id", "embedding",
            k = 10, nProbe = 4)
          .localCheckpoint()
        graft.operators.Ivf.release(ix)
        VectorQueries.exactAnchoredRecall(exact, ann, floor = 0.6)
      },
      Some(VectorQueries.bruteTopKRecallOracle(10)))
  )
}
