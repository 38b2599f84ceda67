package graft.operators

import graft.SparkTestBase
import graft.core.Tables

/** IVF-PQ: recall vs float brute force, candidate pruning actually
  * prunes, and residual PQ beats raw PQ at the same code budget (the
  * reason the composition exists).
  */
class IvfPqSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("recall floor vs brute force, with real pruning") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ix = IvfPq.build(emb, "vec_id", "embedding", nCentroids = 16)
    try {
      val got = IvfPq.probe(ix, queries, "vec_id", "embedding", k = 10, nProbe = 8)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val recall = (exact & got).size.toDouble / exact.size
      info(f"IVF-PQ recall@10 = $recall%.2f (nProbe=8/16 cells, random corpus)")
      assert(recall >= 0.15, s"recall collapsed: $recall")
      // pruning: candidates scored <= corpus × nProbe/nCells (+ slack
      // for uneven cells on unclustered data)
      val n = emb.count()
      val candidates = ix.coded.join(
          Ivf.nearest(Similarity.prep(queries, "vec_id", "embedding"),
            ix.centroids, keep = 8).select($"cid").distinct(), "cid")
        .count()
      assert(candidates < n, s"probe must not scan every cell ($candidates of $n)")
    } finally IvfPq.release(ix)
  }

  test("parameters that would silently empty the result are refused by name") {
    val emb = Tables.embeddings(spark, sf)
    val e = intercept[IllegalArgumentException](
      IvfPq.build(emb, "vec_id", "embedding", nCentroids = 0))
    assert(e.getMessage.contains("nCentroids must be"), e.getMessage)
    val ix = IvfPq.build(emb, "vec_id", "embedding", nCentroids = 4)
    try Seq(("k", 0, 4), ("nProbe", 10, 0)).foreach { case (param, k, nProbe) =>
      val p = intercept[IllegalArgumentException](
        IvfPq.probe(ix, emb.where($"vec_id" < 5), "vec_id", "embedding", k, nProbe))
      assert(p.getMessage.contains(s"$param must be"), p.getMessage)
    } finally IvfPq.release(ix)
  }

  test("exact refine stage: refined recall dominates unrefined at the same index") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ix = IvfPq.build(emb, "vec_id", "embedding", nCentroids = 16)
    try {
      val pool = IvfPq.probe(ix, queries, "vec_id", "embedding", k = 40, nProbe = 8)
        .localCheckpoint(true)
      val plain = pool.where($"rank" <= 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val refined = Similarity
        .refineExact(pool, emb, queries, "vec_id", "embedding", k = 10, depth = 40)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val rPlain = (exact & plain).size.toDouble / exact.size
      val rRef = (exact & refined).size.toDouble / exact.size
      info(f"recall@10: unrefined $rPlain%.2f refined $rRef%.2f (depth 40)")
      // refinement can only reorder WITHIN the pool: it never loses an
      // exact hit the pool already contains, so dominance is structural
      assert(rRef >= rPlain, s"refined $rRef < unrefined $rPlain")
      // every refined neighbor must come from the ADC pool
      assert(refined.subsetOf(
        pool.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet))
      // refined sims are EXACT: they match the brute-force values on
      // the intersection (same prep, same dot — bit-identical)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
        .select($"query_id", $"neighbor_id", $"sim").as[(Long, Long, Double)]
        .collect().map { case (q, n, s) => (q, n) -> s }.toMap
      val refSims = Similarity
        .refineExact(pool, emb, queries, "vec_id", "embedding", k = 10, depth = 40)
        .select($"query_id", $"neighbor_id", $"sim").as[(Long, Long, Double)].collect()
      refSims.foreach { case (q, n, s) =>
        bf.get((q, n)).foreach(e => assert(e == s, s"sim mismatch for ($q,$n)")) }
    } finally IvfPq.release(ix)
  }

  test("residual PQ beats raw PQ at the same code budget") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallOf(s: Set[(Long, Long)]) = (exact & s).size.toDouble / exact.size
    val raw = {
      val cb = Pq.train(emb, "vec_id", "embedding")
      recallOf(Pq.adcTopK(emb, queries, "vec_id", "embedding", cb, topK = 10)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    }
    // nProbe = all cells: isolate the RESIDUAL-quantization effect from
    // the IVF pruning effect
    val resid = recallOf(IvfPq.topK(emb, queries, "vec_id", "embedding",
        k = 10, nCentroids = 16, nProbe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    info(f"raw-PQ recall = $raw%.2f, residual-IVF-PQ recall = $resid%.2f")
    assert(resid >= raw - 0.05,
      s"residual quantization should not lose to raw PQ: $resid vs $raw")
  }
}
