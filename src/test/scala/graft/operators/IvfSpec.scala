package graft.operators

import graft.SparkTestBase
import graft.core.Tables
import org.apache.spark.sql.functions._

class IvfSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("IVF topK reaches a recall floor while probing a corpus fraction") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Ivf.topK(emb, queries, "vec_id", "embedding", k = 10,
        nCentroids = 16, nProbe = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(f"IVF recall@10 = $recall%.2f (random-vector corpus, nProbe=8/16)")
    assert(recall >= 0.3, s"IVF recall collapsed: $recall")
  }

  test("farthest-point seeding builds a deterministic, full-coverage index") {
    val emb = Tables.embeddings(spark, sf)
    val i1 @ (c1, a1) = Ivf.build(emb, "vec_id", "embedding", nCentroids = 16,
      farthestSeeding = true)
    val i2 @ (c2, _) = Ivf.build(emb, "vec_id", "embedding", nCentroids = 16,
      farthestSeeding = true)
    assert(c1.count() == 16)
    assert(a1.count() == emb.count())
    // deterministic: same seeds → same centroids across builds
    assertSameRows(c1.select($"cid"), c2.select($"cid"))
    Ivf.release(i1); Ivf.release(i2)
  }

  test("index build: every vector assigned to exactly one cell; cells nonempty-ish") {
    val emb = Tables.embeddings(spark, sf)
    val index @ (centroids, assignments) = Ivf.build(emb, "vec_id", "embedding", nCentroids = 16)
    assert(centroids.count() == 16)
    assert(assignments.count() == emb.count())
    assert(assignments.groupBy("vid").count().where($"count" > 1).count() == 0)
    // one Lloyd step from arbitrary seeds: most cells should be used
    assert(assignments.select("cid").distinct().count() >= 8)
    Ivf.release(index)
  }

  test("parameters that would silently empty the result are refused by name") {
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException](
      Ivf.build(emb, "vec_id", "embedding", nCentroids = 0))
    assert(e.getMessage.contains("nCentroids must be"), e.getMessage)
    Seq(("k", 0, 4), ("nProbe", 10, 0)).foreach { case (param, k, nProbe) =>
      val p = intercept[IllegalArgumentException](
        Ivf.probe(emb, emb, emb.where($"vec_id" < 5), "vec_id", "embedding", k, nProbe))
      assert(p.getMessage.contains(s"$param must be"), p.getMessage)
    }
  }

  test("HLL approx distinct stays within its declared error (q24)") {
    // round 6: the query now carries the error assertion itself — the
    // within_rsd flag the reduced-assertion oracle pins to 1
    val out = graft.Registry.byName("q24_approx_distinct").run(spark, sf)
      .select($"exact_orders", $"within_rsd").as[(Long, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (exact, ok) =>
      assert(exact > 0)
      assert(ok == 1L, s"HLL estimate strayed past 3x rsd for exact=$exact")
    }
  }
}
