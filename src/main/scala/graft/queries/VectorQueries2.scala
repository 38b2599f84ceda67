package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.GraftQuery
import graft.core.Tables
import graft.operators.Quantize

/** Vector round 4: int8 scalar quantization (q102) — the compressed
  * scoring path (4× smaller rows, integer dot products). The oracle
  * replicates the quantizer verbatim (fixed chain of IEEE double ops,
  * no accumulation-order dependence), so the approximate result —
  * integer scores included — hash-matches bit-for-bit, the same
  * full-algorithm-oracle technique as q42/q94.
  */
object VectorQueries2 {

  val queries: Seq[GraftQuery] = Seq(

    GraftQuery(
      "q102_int8_quantized_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Quantize.int8TopK(
            emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", k = 10)
          .select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
      },
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                   FROM embeddings),
        mx AS (SELECT vec_id, v, list_aggregate(list_transform(v, y -> abs(y)), 'max') m FROM e),
        qc AS (SELECT vec_id,
            CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                 ELSE list_transform(v, x -> CAST(floor(x * 127.0 / m + 0.5) AS BIGINT)) END AS codes
          FROM mx),
        pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
            list_reduce(list_transform(generate_series(1, len(q.codes)),
              i -> q.codes[i] * c.codes[i]), (a, b) -> a + b) AS score
          FROM qc q JOIN qc c ON c.vec_id <> q.vec_id
          WHERE q.vec_id < 5),
        ranked AS (
          SELECT query_id, neighbor_id, score,
            row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank
          FROM pairs)
        SELECT query_id, neighbor_id, score, rank FROM ranked WHERE rank <= 10
      """)),

    // ---- q112: product-quantization ADC top-k — the 32x-compression
    //      ANN path (operators.Pq: codebooks trained on a deterministic
    //      hash-ordered sample, m lookup-adds per corpus row). The
    //      codebooks are data-dependent floats, so no static oracle can
    //      replicate the ADC scores; oracle-checked via the
    //      reduced-assertion route instead (exact top-k hash-matched +
    //      mean-recall flag). The 0.05 floor looks low but the fixture
    //      is RANDOM 64-dim vectors — PQ's theoretical worst case (no
    //      cluster structure to quantize) — and chance recall is
    //      ~0.002; measured means are 0.28 (sf0.01) / 0.12 (sf0.1).
    //      PqSpec additionally pins exactness on centroid-aligned
    //      vectors and bit-identical retraining. ----
    GraftQuery.staged(
      "q112_pq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        (graft.operators.Pq.train(emb, "vec_id", "embedding"),
          VectorQueries.exactAnchors(emb, 10))
      },
      (s, d, built: (graft.operators.Pq.Codebooks, DataFrame)) => {
        val (cb, exact) = built
        val emb = Tables.embeddings(s, d)
        val ann = graft.operators.Pq.adcTopK(
          emb, emb.where(col("vec_id") < 5), "vec_id", "embedding", cb, topK = 10)
        VectorQueries.exactAnchoredRecall(exact, ann, floor = 0.05)
      },
      Some(VectorQueries.bruteTopKRecallOracle(10))),

    // ---- q113: IVF-PQ — the billion-scale composition (coarse cells
    //      prune candidates, product-quantized RESIDUALS score them by
    //      table lookup), now with the FAISS refine stage: the probe
    //      returns a depth-80 ADC-scored pool and refineExact re-scores
    //      it on raw vectors, so quantization distortion only costs
    //      recall when the true neighbor missed the pool entirely.
    //      Same reduced-assertion oracle as q48/q112; floor 0.4 vs
    //      measured refined recalls 0.84 (sf0.01) / 0.88 (sf0.1)
    //      (unrefined: 0.42 / 0.24 — the refine stage lifts recall
    //      2-3.7× at the same index; chance ~0.002; ≥2× floor margin).
    //      IvfPqSpec additionally pins that residual quantization beats
    //      raw PQ at the same code budget, and that refined recall
    //      dominates unrefined. ----
    GraftQuery.staged(
      "q113_ivfpq_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        (graft.operators.IvfPq.build(emb, "vec_id", "embedding", nCentroids = 16),
          VectorQueries.exactAnchors(emb, 10))
      },
      (s, d, built: (graft.operators.IvfPq.Index, DataFrame)) => {
        val (ix, exact) = built
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 5)
        val pool = graft.operators.IvfPq.probe(
            ix, queries, "vec_id", "embedding", k = 80, nProbe = 4)
          .localCheckpoint()
        graft.operators.IvfPq.release(ix)
        val ann = graft.operators.Similarity.refineExact(
          pool, emb, queries, "vec_id", "embedding", k = 10, depth = 80)
        VectorQueries.exactAnchoredRecall(exact, ann, floor = 0.4)
      },
      Some(VectorQueries.bruteTopKRecallOracle(10))),

    // ---- q206: GRAPH-ANN — HNSW-style greedy beam search over the
    //      persisted kNN graph (Similarity.graphSearch on knnGraph's
    //      edges; q204's kernel is the index build). The build is the
    //      FULL index lifecycle: build → IndexStore atomic persist →
    //      load back, so the probe serves from storage like a
    //      production search tier. Same
    //      reduced-assertion oracle as q48/q112/q113 (the graph walk
    //      is data-dependent; the query returns the exact brute-force
    //      top-k, hash-matched bit-for-bit, plus a recall flag the
    //      oracle pins to 1). Search params AUTO-SIZE with corpus
    //      count (round-13 verdict #7: the fixed beam=32/rounds=4/
    //      entries=4 config decayed 0.90 → 0.46-0.58 as N grew), and
    //      since r15 the GRAPH auto-sizes too: degree max(8, 1.2·log₂N)
    //      + 1 NN-descent round (round-14 verdict #1 — the fixed deg-8
    //      seed made recall decay 0.98/0.90/0.64 at N=500/2k/20k).
    //      Floor 0.6 vs measured recalls 1.00 (sf0.01, N=500) /
    //      1.00 (sf0.1, N=2k) / 0.98 (sf1, N=20k) (GraphAnnProbe3,
    //      BASELINE r15) — ≥1.63× margin, ~490× above the ~0.002
    //      chance level, at equal-or-lower probe wall. ----
    GraftQuery.staged(
      "q206_graph_ann",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val dir = TextQueries8.tempRoot("graft_index_q206") + "/graph"
        // AUTO degree (k=0 → max(8, 1.2·log₂N)) + 2 NN-descent rounds
        // (round-14 verdict #1): the FIXED deg-8 seed graph was what
        // made q206 recall decay with N — navigability needs degree to
        // grow with ln N. Measured (GraphAnnProbe3, BASELINE r15):
        // recall 0.98/0.96/1.00 at N=500/2k/20k vs 0.98/0.90/0.64 on
        // the old fixed-deg-8 seed; floor raised 0.5 → 0.6.
        val built = graft.operators.Similarity.knnGraph(
          emb, "vec_id", "embedding", k = 0, refineRounds = 1)
        graft.operators.IndexStore.saveKnnGraph(s, built, dir)
        // the persisted parquet is the serving copy: the build plan's
        // internal LSH bucket checkpoint is released here
        graft.operators.Lineage.release(built, blocking = true)
        (graft.operators.IndexStore.loadKnnGraph(s, dir), VectorQueries.exactAnchors(emb, 10))
      },
      (s, d, built: (DataFrame, DataFrame)) => {
        val (graph, exact) = built
        val emb = Tables.embeddings(s, d)
        val queries = emb.where(col("vec_id") < 5)
        val ann = graft.operators.Similarity.graphSearch(
          graph, emb, queries, "vec_id", "embedding", k = 10,
          beam = 0, rounds = 0) // 0 = auto-size by corpus count
        // graphSearch staged its own eager copies, so the loaded graph
        // unpins here
        graph.unpersist()
        VectorQueries.exactAnchoredRecall(exact, ann, floor = 0.6)
      },
      Some(VectorQueries.bruteTopKRecallOracle(10))),

    // ---- q151: SemDeDup — semantic deduplication by coarse cells
    //      (arXiv:2303.09540). Output rows are the PORTABLE path: seed
    //      centroids are the 8 smallest-id vectors themselves (zero
    //      arithmetic), so the oracle replicates the whole pipeline —
    //      assignment argmax, within-cell domination, survivor report —
    //      bit-for-bit. `lloyd_ok` rides along from the SCALE path:
    //      the Lloyd-refined codebook's cells, MULTI-PROBED (probes=2),
    //      must capture >= 60% of the exact cosine>=0.4 pair set
    //      (measured 0.85 at sf0.01 / 0.75 at sf0.1 under the
    //      any-shared-probed-cell criterion, vs 0.44/0.36 single-probe —
    //      the second probe recovers most boundary-split pairs; the
    //      floor keeps >=0.15 margin under float-sum assignment
    //      jitter). q152 reports the recovered cross-cell pairs
    //      themselves on the portable seed family. ----
    GraftQuery.staged(
      "q151_semdedup",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // lloydCells already returns an eager localCheckpoint; the exact
        // pair set feeds the hit join AND the flag's denominator
        (graft.operators.SemDedup.lloydCells(
            emb, "vec_id", "embedding", nCells = 8, probes = 2),
          graft.operators.Similarity.nearDupPairs(
              emb, "vec_id", "embedding", tau = 0.4)
            .select(col("id_a"), col("id_b")).localCheckpoint(true))
      },
      (s, d, built: (DataFrame, DataFrame)) => {
        val (cells, exact) = built
        val emb = Tables.embeddings(s, d)
        val v = graft.operators.SemDedup.semanticDedup(
          emb, "vec_id", "embedding", nCells = 8, tau = 0.4)
        val report = v.groupBy(col("cell")).agg(
          count(lit(1)).as("n_members"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
          array_join(array_sort(collect_list(when(!col("kept"), col("vec_id")))), ",")
            .as("dropped_ids"))
        // scale-path flag: exact near-dup pairs captured inside Lloyd
        // cells, MULTI-PROBE (each vector competes in its top-2 cells —
        // a pair is captured if ANY probed cell is shared, the same
        // criterion semanticDedupLloyd scores under). collect-free —
        // one boolean aggregated in-plan. A pair can share both probed
        // cells, so hits are deduped before counting; the left join +
        // coalesce makes an empty exact pair set vacuously true (the
        // q55 idiom), not a NULL flag.
        val hits = exact.select("id_a", "id_b")
          .join(cells.select(col("vec_id").as("id_a"), col("cell")), Seq("id_a"))
          .join(cells.select(col("vec_id").as("id_b"), col("cell")), Seq("id_b", "cell"))
          .select("id_a", "id_b").distinct()
        val flag = exact.select("id_a", "id_b")
          .join(hits.withColumn("_hit", lit(1L)), Seq("id_a", "id_b"), "left")
          .agg(coalesce(sum(col("_hit")) >= count(lit(1)) * lit(0.6), lit(true))
            .cast("long").as("lloyd_ok"))
        report.crossJoin(broadcast(flag))
          .select(col("cell"), col("n_members"), col("n_dropped"),
            col("dropped_ids"), col("lloyd_ok"))
      },
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                   FROM embeddings),
        nrm AS (SELECT vec_id,
            list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
          FROM e),
        seeds AS (SELECT vec_id AS cid, vn AS cvec FROM nrm ORDER BY vec_id LIMIT 8),
        assigned AS (
          SELECT vec_id, vn, cid FROM (
            SELECT n.vec_id, n.vn, s.cid,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_transform(generate_series(1, len(n.vn)),
                  i -> n.vn[i] * s.cvec[i]), (x, y) -> x + y) DESC, s.cid) AS rnk
            FROM nrm n CROSS JOIN seeds s) t
          WHERE rnk = 1),
        dom AS (
          SELECT DISTINCT y.vec_id FROM assigned x JOIN assigned y
            ON x.cid = y.cid AND x.vec_id < y.vec_id
          WHERE list_reduce(list_transform(generate_series(1, len(x.vn)),
            i -> x.vn[i] * y.vn[i]), (a, b) -> a + b) >= 0.4)
        SELECT a.cid AS cell, CAST(count(*) AS BIGINT) AS n_members,
          CAST(count(d.vec_id) AS BIGINT) AS n_dropped,
          coalesce(string_agg(CAST(d.vec_id AS VARCHAR), ',' ORDER BY d.vec_id), '')
            AS dropped_ids,
          CAST(1 AS BIGINT) AS lloyd_ok
        FROM assigned a LEFT JOIN dom d ON a.vec_id = d.vec_id
        GROUP BY a.cid
      """)),

    // ---- q152: SemDeDup cross-cell recovered pairs — the near-dup
    //      pairs the cell partition SPLITS (primary cells differ) that
    //      multi-probe (probes=2) RECOVERS (some probed cell shared).
    //      Emitted as an audited output on the PORTABLE seed-centroid
    //      family, so DuckDB replicates every row — ids, exact cosine,
    //      both primary cells — bit-for-bit (the q151 idiom extended
    //      with the probe rank). `capture_ok` is ALSO portable: seed
    //      cells at probes=2 capture 0.78 (sf0.01) / 0.715 (sf0.1) of
    //      the exact cosine>=0.4 pair set — the floor 0.6 comparison is
    //      pure integer (10·hits ≥ 6·pairs) and the oracle computes the
    //      SAME fraction instead of pinning a constant, so a capture
    //      regression flips a genuinely recomputed flag. q151 keeps the
    //      Lloyd-path capture gauge (floor 0.6 there too). ----
    GraftQuery.staged(
      "q152_semdedup_crosscell",
      // checkpointed: the exact pair set feeds the report AND the
      // capture flag's numerator/denominator — without it the all-pairs
      // baseline kernel re-runs once per consumer
      (s, d) => graft.operators.Similarity.nearDupPairs(
          Tables.embeddings(s, d), "vec_id", "embedding", tau = 0.4)
        .select(col("id_a"), col("id_b"), col("sim"))
        .localCheckpoint(true),
      (s, d, exact: DataFrame) => {
        val emb = Tables.embeddings(s, d)
        // checkpointed: the assignment frame feeds FOUR joins below
        // (both `shared` sides, both `prim` sides) — unmaterialized,
        // the normalize + seed-scoring + probe-rank window pipeline
        // re-ran once per consumer (plan audit: 24 embedding scans /
        // 36 Windows in the explain; one pass after staging)
        val cells = graft.operators.SemDedup.seedCells(
            emb, "vec_id", "embedding", nCells = 8, probes = 2)
          .localCheckpoint(true)
        val shared = exact
          .join(cells.select(col("vec_id").as("id_a"), col("cell")), Seq("id_a"))
          .join(cells.select(col("vec_id").as("id_b"), col("cell")), Seq("id_b", "cell"))
          .select(col("id_a"), col("id_b"), col("sim")).distinct()
        val prim = cells.where(col("prnk") === 1)
        val recovered = shared
          .join(prim.select(col("vec_id").as("id_a"), col("cell").as("cell_a")), Seq("id_a"))
          .join(prim.select(col("vec_id").as("id_b"), col("cell").as("cell_b")), Seq("id_b"))
          .where(col("cell_a") =!= col("cell_b"))
        // capture flag on the SAME portable probed cells (`shared` IS
        // the captured set); 10·hits ≥ 6·pairs keeps the floor-0.6
        // comparison in exact integers on both engines
        val flag = exact.select("id_a", "id_b")
          .join(shared.select("id_a", "id_b").withColumn("_hit", lit(1L)),
            Seq("id_a", "id_b"), "left")
          .agg(coalesce(sum(col("_hit")) * 10 >= count(lit(1)) * 6, lit(true))
            .cast("long").as("capture_ok"))
        recovered.crossJoin(broadcast(flag))
          .select(col("id_a"), col("id_b"), col("sim"),
            col("cell_a"), col("cell_b"), col("capture_ok"))
      },
      Some("""
        WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
                   FROM embeddings),
        nrm AS (SELECT vec_id,
            list_transform(v, x -> x / sqrt(list_reduce(list_transform(v, y -> y * y), (a, b) -> a + b))) vn
          FROM e),
        seeds AS (SELECT vec_id AS cid, vn AS cvec FROM nrm ORDER BY vec_id LIMIT 8),
        assigned AS (
          SELECT vec_id, cid, rnk FROM (
            SELECT n.vec_id, s.cid,
              row_number() OVER (PARTITION BY n.vec_id ORDER BY
                list_reduce(list_transform(generate_series(1, len(n.vn)),
                  i -> n.vn[i] * s.cvec[i]), (x, y) -> x + y) DESC, s.cid) AS rnk
            FROM nrm n CROSS JOIN seeds s) t
          WHERE rnk <= 2),
        np AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            list_reduce(list_transform(generate_series(1, len(a.vn)),
              i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) AS sim
          FROM nrm a JOIN nrm b ON a.vec_id < b.vec_id
          WHERE list_reduce(list_transform(generate_series(1, len(a.vn)),
              i -> a.vn[i] * b.vn[i]), (x, y) -> x + y) >= 0.4),
        shared AS (
          SELECT DISTINCT p.id_a, p.id_b, p.sim
          FROM np p JOIN assigned x ON x.vec_id = p.id_a
                    JOIN assigned y ON y.vec_id = p.id_b AND y.cid = x.cid),
        prim AS (SELECT vec_id, cid FROM assigned WHERE rnk = 1),
        cap AS (SELECT CAST(CASE WHEN 10 * (SELECT count(*) FROM shared)
                                   >= 6 * (SELECT count(*) FROM np)
                            THEN 1 ELSE 0 END AS BIGINT) AS capture_ok)
        SELECT s.id_a, s.id_b, s.sim, xa.cid AS cell_a, yb.cid AS cell_b,
          cap.capture_ok
        FROM shared s
        JOIN prim xa ON xa.vec_id = s.id_a
        JOIN prim yb ON yb.vec_id = s.id_b
        CROSS JOIN cap
        WHERE xa.cid <> yb.cid
      """)),

    // ---- q164: k-NN label spread — classify unlabeled vectors
    //      (vec_id < 50 play the part) by majority vote of their k=5
    //      nearest LABELED neighbors (vec_id >= 50), the
    //      semi-supervised labeling pass a curation pipeline uses to
    //      extend a small hand-labeled seed set across a corpus. Exact
    //      cosine via the brute-force kernel (the q41 family — the
    //      oracle replicates the normalize + sequential-fold dot
    //      bit-for-bit); votes and the argmax (votes desc, label asc)
    //      are pure integers. Scale shape: the query batch broadcasts
    //      against the corpus scan (the bruteForceTopK contract); the
    //      scale path for a full-corpus spread is the same vote over
    //      IVF/LSH neighbors (q42/q48). ----
    GraftQuery(
      "q164_knn_label_spread",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val corpus = emb.where(col("vec_id") >= 50)
        val knn = graft.operators.Similarity.bruteForceTopK(
          corpus, emb.where(col("vec_id") < 50), "vec_id", "embedding", k = 5)
        val votes = knn
          .join(corpus.select(col("vec_id").as("neighbor_id"),
            col("label").as("nlabel")), Seq("neighbor_id"))
          .groupBy(col("query_id"), col("nlabel"))
          .agg(count(lit(1)).as("n_votes"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("n_votes").desc, col("nlabel"))
        votes.withColumn("r", row_number().over(w)).where(col("r") === 1)
          .join(emb.select(col("vec_id").as("query_id"), col("label")), Seq("query_id"))
          .select(col("query_id"),
            col("label").cast("long").as("actual"),
            col("nlabel").cast("long").as("predicted"),
            col("n_votes"),
            (col("label") === col("nlabel")).cast("long").as("agree"))
      },
      Some(s"""
        ${VectorQueries.vecCte},
        pairs AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nlabel,
            list_reduce(list_transform(generate_series(1, len(q.vn)),
              i -> q.vn[i] * c.vn[i]), (x, y) -> x + y) AS sim
          FROM nrm q JOIN nrm c ON c.vec_id >= 50
          WHERE q.vec_id < 50),
        knn AS (SELECT query_id, nlabel FROM (
            SELECT query_id, nlabel,
              row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rnk
            FROM pairs) t
          WHERE rnk <= 5),
        votes AS (SELECT query_id, nlabel, CAST(count(*) AS BIGINT) AS n_votes
                  FROM knn GROUP BY query_id, nlabel),
        pred AS (SELECT query_id, nlabel, n_votes FROM (
            SELECT query_id, nlabel, n_votes,
              row_number() OVER (PARTITION BY query_id ORDER BY n_votes DESC, nlabel) AS r
            FROM votes) t
          WHERE r = 1)
        SELECT p.query_id, CAST(e.label AS BIGINT) AS actual,
          CAST(p.nlabel AS BIGINT) AS predicted, p.n_votes,
          CAST(CASE WHEN e.label = p.nlabel THEN 1 ELSE 0 END AS BIGINT) AS agree
        FROM pred p JOIN embeddings e ON e.vec_id = p.query_id
      """)),

    // ---- q166: anchor-based embedding outliers — per label, the 5
    //      members LEAST similar to the label's 8 smallest-id anchor
    //      members (summed cosine, anchors excluded from scoring).
    //      The mislabeled-example / off-distribution sweep a curation
    //      pipeline runs per class. Anchors instead of a centroid
    //      because a cross-row float mean is accumulation-order-
    //      dependent (the VectorSumAgg caveat) — the anchor-sum is a
    //      FIXED-ORDER left fold over 8 dots (DuckDB list_reduce has
    //      no zero element, so the Spark fold seeds with the first
    //      dot, not 0.0 — bit-identical even at -0.0). Scale shape:
    //      anchor arrays are |labels|·8 vectors, broadcast; one scan
    //      scores every member; per-label top-5 via partitioned
    //      window. ----
    GraftQuery(
      "q166_embedding_outliers",
      (s, d) => {
        import graft.functions.VectorFunctions.{dot, normalized, vecD}
        val nrm = Tables.embeddings(s, d).select(col("vec_id"),
          col("label"), normalized(vecD(col("embedding"))).as("vn"))
        val rk = nrm.withColumn("r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("label")).orderBy(col("vec_id"))))
        val anch = rk.where(col("r") <= 8).groupBy(col("label"))
          .agg(sort_array(collect_list(struct(col("vec_id"), col("vn")))).as("avs"))
        val ds = transform(col("avs"), a => dot(col("vn"), a("vn")))
        val scored = rk.where(col("r") > 8)
          .join(broadcast(anch), Seq("label"))
          .withColumn("ds", ds)
          // left fold seeded with the FIRST dot (list_reduce semantics)
          .withColumn("score", aggregate(
            slice(col("ds"), 2, 7), element_at(col("ds"), 1), (acc, x) => acc + x))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label")).orderBy(col("score"), col("vec_id"))
        scored.withColumn("rank", row_number().over(w).cast("long"))
          .where(col("rank") <= 5)
          .select(col("label").cast("long").as("label"), col("vec_id"),
            col("score"), col("rank"))
      },
      Some(s"""
        ${VectorQueries.vecCte},
        rk AS (SELECT vec_id, label, vn,
                 row_number() OVER (PARTITION BY label ORDER BY vec_id) AS r
               FROM nrm),
        anch AS (SELECT label, list(vn ORDER BY vec_id) AS avs
                 FROM rk WHERE r <= 8 GROUP BY label),
        sc AS (SELECT m.label, m.vec_id,
                 list_reduce(list_transform(a.avs,
                   av -> list_reduce(list_transform(generate_series(1, len(m.vn)),
                     i -> m.vn[i] * av[i]), (x, y) -> x + y)), (x, y) -> x + y) AS score
               FROM rk m JOIN anch a USING (label)
               WHERE m.r > 8)
        SELECT CAST(label AS BIGINT) AS label, vec_id, score, rank FROM (
          SELECT label, vec_id, score,
            CAST(row_number() OVER (PARTITION BY label ORDER BY score, vec_id) AS BIGINT) AS rank
          FROM sc) t
        WHERE rank <= 5
      """))
  )
}
