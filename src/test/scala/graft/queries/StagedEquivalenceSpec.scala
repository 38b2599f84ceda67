package graft.queries

import graft.{Registry, SparkTestBase}

/** The bench times prepare-then-run, while Verify checks run alone
  * against the oracle: both paths of every staged query must return the
  * same row multiset.
  */
class StagedEquivalenceSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def sweep(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def rowsOfRun(q: graft.GraftQuery): Map[Seq[Any], Int] = {
    val df = q.run(spark, sf)
    try rowsOf(df) finally { graft.operators.Lineage.release(df, blocking = true); sweep() }
  }

  Seq("q48_ann_ivf", "q55_dedup_minhash_fast", "q151_semdedup", "q206_graph_ann",
    "q213_substring_index_compacted", "q215_trained_quality_classifier",
    "q217_trained_language_id").foreach { name =>
    test(s"$name: prepare then run returns the rows of run alone") {
      val q = Registry.byName(name)
      q.prepare.get(spark, sf)
      val prepared = rowsOfRun(q)
      val inline = rowsOfRun(q)
      assert(prepared.nonEmpty)
      assert(prepared == inline,
        s"only prepared=${prepared.toSet -- inline.toSet} only inline=${inline.toSet -- prepared.toSet}")
    }
  }
}
