package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round synchronous minimum-label propagation over an
  * undirected graph.
  *
  * Unlike [[Components]] (which iterates to the connected-component
  * fixed point), this runs a CALLER-CHOSEN number of rounds and stops —
  * the community-detection / partial-convergence primitive: after `k`
  * rounds a node's label is the minimum node id within `k` hops, so the
  * label histogram measures how fast the graph contracts (tight
  * clusters collapse in 1-2 rounds, chains don't). Deterministic by
  * construction — min over longs, no tie-break dependence on
  * partitioning — so it carries a full unrolled SQL oracle (q177).
  *
  * Scale shape (round-14 rework, verdict r13 #9): the adjacency
  * carries SELF-LOOPS, so a round's closed-neighborhood min is ONE
  * join + ONE aggregate — `min label over N(s) ∪ {s}` — with a single
  * consumer per round. The loop therefore unrolls into a straight-line
  * plan (the [[PageRank]] discipline): no per-round checkpoint jobs,
  * no second rank-update join. The adjacency is checkpointed once
  * keyed by the neighbor end `t`; the label frame leaves each round
  * hash-partitioned by `s` ≡ alias-tracked `t` of the NEXT round's
  * join, so the only per-round exchange is the inherent t→s re-key of
  * the aggregation (was: 2 joins + 1 checkpoint + that shuffle).
  * Plan-depth guard: a checkpoint every 8 rounds. The returned frame
  * is eagerly checkpointed, so once the adjacency is freed it
  * references nothing else.
  */
object LabelProp {

  /** @param pairs undirected edge list; `aCol`/`bCol` are node-id
    *              columns castable to long. Self-loops are harmless
    *              (a node is already its own label candidate).
    * @param rounds number of synchronous propagation rounds (≥ 1).
    */
  def propagate(
      pairs: DataFrame,
      rounds: Int,
      aCol: String = "u",
      bCol: String = "v"): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e0 = pairs.select(col(aCol).cast("long").as("s"), col(bCol).cast("long").as("t"))
      .where(col("s").isNotNull && col("t").isNotNull)
    Lineage.staging { st =>
      // both directions PLUS self-loops: min over N(s) ∪ {s} ≡
      // least(own, neighborhood min) — the self-loop folds the own-label
      // term into the one aggregate, which is what makes each round a
      // single-consumer step (see object doc). checkpointByKey on the
      // neighbor end: the STATIONARY adjacency is laid out once on t and
      // only the |V|-row label frame re-keys per round.
      // ONE explode of four orientations, not a 4-way union: the union
      // embedded the caller's edge plan once per branch, so an
      // un-checkpointed pairs input (q177's co-order expansion) executed
      // up to four times inside the adjacency build — the explode
      // evaluates it once. Same multiset of rows into the distinct,
      // bit-identical adjacency.
      // ONE exchange, not two (r16): `.distinct()` shuffled the exploded
      // rows on hash(s, t) and checkpointByKey then re-shuffled the
      // deduped set on hash(t). repartition(t) FIRST satisfies the
      // dedup's clustered distribution ({t} ⊆ {s, t} — the KCore prep
      // precedent), so dropDuplicates runs exchange-free in the hash(t)
      // layout the checkpoint then keeps. Same adjacency set,
      // bit-identical downstream (solo A/B in OPTIMIZATION_r16.md §A).
      val adj = st(graft.core.Partitioning.checkpointKeepingLayout(
        e0.select(explode(array(
            struct(col("s"), col("t")),
            struct(col("t").as("s"), col("s").as("t")),
            struct(col("s"), col("s").as("t")),
            struct(col("t").as("s"), col("t").as("t")))).as("a"))
          .select(col("a.s").as("s"), col("a.t").as("t"))
          .repartition(col("t"))
          .dropDuplicates("s", "t")))
      // init from the SELF-LOOP rows: the adjacency build gives every
      // node exactly one (x, x) row, so the node universe is a narrow
      // FILTER over the already-checkpointed adjacency — the
      // select-distinct it replaces paid a full |V|-row shuffle for
      // the same set. Bonus: the filtered frame keeps the hash(t)
      // layout with node ≡ t, so round 1's label join plans its label
      // side exchange-free too.
      var labels: DataFrame = adj.where(col("s") === col("t"))
        .select(col("s").as("node"), col("s").as("label"))
      def round(labels: DataFrame): DataFrame = adj
        .join(labels.select(col("node").as("t"), col("label").as("tl")), Seq("t"))
        .groupBy(col("s")).agg(min(col("tl")).as("label"))
        .select(col("s").as("node"), col("label"))
      // straight-line unroll: each round's labels feed exactly one
      // consumer (the next round's join), so no intermediate
      // materialization is needed; checkpoint every 8 rounds to bound
      // plan depth, and ALWAYS at the last round (the return contract —
      // callers release blocks through the result frame)
      var done = 0
      while (done < rounds) {
        val end = math.min(rounds, done + 8)
        val c = st(graft.core.Partitioning.checkpointKeepingLayout(
          (done + 1 to end).foldLeft(labels)((l, _) => round(l))))
        if (done > 0) st.drop(labels) // the previous 8 rounds' checkpoint
        labels = c
        done = end
      }
      labels
    }
  }
}
