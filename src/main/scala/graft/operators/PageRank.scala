package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-point PageRank.
  *
  * Floating-point PageRank cannot be verified across engines (or even
  * across two runs with different partitioning): the per-vertex sum of
  * incoming contributions is a float reduction whose order the shuffle
  * decides. Here ranks are integers scaled by `Scale` (10^12) and every
  * step is integer arithmetic — division truncates, the damping factor
  * is the exact rational 85/100 — so addition is associative, the
  * result is bit-identical under ANY partitioning, and a DuckDB oracle
  * replicates it with an unrolled CTE chain (q106).
  *
  * Semantics: directed PageRank over the out-edges given; undirected
  * graphs pass both directions (see [[bothDirections]]). Dangling
  * vertices (no out-edges) leak their mass — the standard simple
  * variant; total mass is therefore not conserved, which is fine for
  * RANKING uses (the judge of relative importance is unchanged).
  *
  * Scale shape: one shuffle join (contributions to their destination)
  * plus one aggregation per iteration; ranks/degrees ride a compact
  * (vertex, rank) table broadcast against the checkpointed arc list.
  * The loop deliberately unrolls into ONE straight-line plan (each
  * round's rank feeds exactly one consumer) — no per-round job
  * launches. That trades plan depth for latency: fine at the ≤10
  * rounds PageRank needs to rank-stabilize; for unusually deep loops
  * add a localCheckpoint every ~8 rounds (Components' pattern).
  */
object PageRank {

  val Scale = 1000000000000L // 10^12: head-room under 2^63 for sums

  /** Undirected edge list (u, v) → both directed arcs.
    *
    * Explode-of-both-orientations, NOT unionAll-of-two-selects: the
    * union embeds the edge plan twice, so an un-checkpointed edge
    * build (groupBy + pair expansion + distinct) would execute once
    * per direction — callers had to pre-checkpoint purely to defeat
    * that (q106's old shape). The explode evaluates its child ONCE and
    * emits both arcs per row; same multiset of arcs, and PageRank's
    * fixed-point arithmetic is partitioning/order-independent by
    * design, so results are bit-identical.
    */
  def bothDirections(edges: DataFrame): DataFrame =
    edges.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("a"))
      .select(col("a.src").as("src"), col("a.dst").as("dst"))

  /** Broadcast the (vertex, rank)/degree tables only while |V| stays
    * driver/executor-sized: 4M vertices ≈ 64 MB of (long, long) rows
    * before hash-relation overhead. Above it the loop switches to the
    * co-partitioned shuffle formulation (identical arithmetic — the
    * fixed-point design makes the two branches bit-identical).
    *
    * Measured (r9, PrBench, co-order graph, 3 iters, warm): sf0.1
    * (~40 k vertices) broadcast 2.8-2.9 s vs shuffle 2.3-3.4 s —
    * noise-overlapped; sf1 (~200 k vertices) broadcast 9.1-10.1 s vs
    * shuffle 9.9-13.8 s — broadcast ahead. The gate's default
    * (broadcast below 4M) is the measured right choice at both scales.
    */
  private val BroadcastMaxVertices = 4L * 1000 * 1000

  /** (vertex, rank) after `iters` rounds; rank is the fixed-point
    * integer (true rank ≈ rank / Scale).
    *
    * @param arcs directed arc list (src, dst). CONSUMED (the
    *   [[Components.connectedComponents]] contract): any localCheckpoint
    *   blocks the arc plan references are released once the internal
    *   arc checkpoint materializes — a checkpoint-backed arc frame is
    *   unrecomputable after this call (and `bothDirections` passes the
    *   hazard through). Callers needing the frame afterwards should
    *   pass a recomputable plan or re-checkpoint.
    */
  def ranks(arcs: DataFrame, iters: Int,
      broadcastMaxVertices: Long = BroadcastMaxVertices): DataFrame = Lineage.staging { st =>
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val a0 = st(arcs.select(col("src"), col("dst")).localCheckpoint())
    // input CONSUMED (the Components contract): a0 is eager, so any
    // checkpoint blocks the caller's arc plan staged (q106 stages its
    // pair expansion) are now superseded — nothing downstream reads
    // `arcs` again, and the truncated plans would hide those blocks
    // from every later release
    Lineage.release(arcs)
    // Vertex universe AND out-degrees from ONE aggregation (r16): the
    // former {union-distinct checkpoint, degree groupBy, left join,
    // second checkpoint} was three passes over the arc table plus a
    // |V|⋈|V| join for a table one explode+groupBy computes — each arc
    // emits (src, 1) and (dst, 0), the per-vertex sum IS the out-degree,
    // and a 0 sum marks a dangling vertex (deg NULL, bit-identical to
    // the left join's miss; DerivedPropertiesSpec/PageRankSpec pin it).
    // checkpointKeepingLayout: the groupBy lands hash(vertex), which the
    // large-|V| branch's per-round rank-update joins reuse (the small
    // branch ignores the layout — it broadcasts).
    val vd = st(graft.core.Partitioning.checkpointKeepingLayout(
      a0.select(explode(array(
          struct(col("src").as("vertex"), lit(1L).as("c")),
          struct(col("dst").as("vertex"), lit(0L).as("c")))).as("x"))
        .select(col("x.vertex").as("vertex"), col("x.c").as("c"))
        .groupBy(col("vertex")).agg(sum(col("c")).as("ds"))
        .select(col("vertex"),
          when(col("ds") > 0, col("ds")).otherwise(lit(null).cast("long")).as("deg"))))
    // |V| is needed for the teleport term anyway — the same count (one
    // cheap job over the checkpointed |V|-row table) gates the
    // broadcast-vs-shuffle branch for free.
    val n = vd.count()
    require(n > 0, "PageRank over an empty arc set — no vertices to rank")
    val small = n <= broadcastMaxVertices
    // Small-|V| branch: ranks/degrees ride broadcasts, each iteration
    // touches the |E|-row arc table with a narrow map join + one groupBy
    // shuffle (localCheckpoint wipes stats, so without the hints every
    // iteration sort-merges the full arc table: measured 11.8 s → 4.5 s
    // at sf0.1).
    //
    // Large-|V| branch: nothing broadcasts. The arc table is hash-
    // partitioned on src ONCE (checkpointed in that layout), so each
    // iteration's contribution join reuses its partitioning — only the
    // |V|-row rank/degree side exchanges per round, and the
    // shuffle_hash hint keeps the arc side sort-free (a sort-merge
    // would re-sort |E| rows every iteration). The rank-update join and
    // the groupBy both hash on vertex, so those exchanges align round
    // to round as well.
    // checkpointByKey, NOT repartition+localCheckpoint: under AQE the
    // checkpoint's LogicalRDD reports UnknownPartitioning (the round-9
    // formulation silently lost the layout and every iteration
    // re-shuffled the arc table; see core.Partitioning.checkpointByKey).
    val a = if (small) a0 else {
      val r = st(graft.core.Partitioning.checkpointByKey(a0, col("src")))
      st.drop(a0) // superseded by the src-hash layout
      r
    }
    def attach(df: DataFrame): DataFrame =
      if (small) broadcast(df) else df.hint("shuffle_hash")
    // Degree rides the vertex table through the loop ((vertex, deg,
    // rank)), so each iteration's per-source contribution is a
    // PROJECTION (rank div deg) instead of a rank⋈degree join — one
    // fewer join + broadcast build per round (measured ~0.5 s/round at
    // sf0.1). Dangling vertices carry deg NULL and are filtered from
    // contributions (they emit no mass). Large branch: vd is re-joined
    // on `vertex` EVERY round — its checkpointed hash(vertex) layout
    // makes the per-round rank-update join see two co-partitioned sides
    // (rank's projection is alias-tracked from vd's layout, so the
    // loop's joins plan exchange-free; only the contribution groupBy
    // re-keys, src → dst, which is inherent — the PlanAssertionsSpec
    // loop guard pins it).
    val base = Scale * 15L / 100L / n // teleport term, truncating like every step
    var rank = vd.withColumn("rank", lit(Scale / n))
    for (_ <- 1 to iters) {
      // `div` (integer division), NOT `/`: Spark's `/` on longs returns
      // DOUBLE, whose rounding would reintroduce the very
      // order/engine-dependence the fixed-point design removes.
      val perSrc = rank
        .where(col("deg").isNotNull)
        .select(col("vertex").as("src"), expr("rank div deg").as("c"))
      val contrib = a.join(attach(perSrc), "src")
        .select(col("dst").as("vertex"), col("c"))
        .groupBy(col("vertex")).agg(sum(col("c")).as("s"))
      // NO per-iteration checkpoint: each rank table feeds exactly one
      // consumer (the next round's contribution join), so the loop
      // unrolls into one straight-line plan — every exchange runs once,
      // and we skip 2 job launches per round (measured ~1 s/round at
      // sf0.1). For iteration counts where plan depth itself becomes a
      // problem (≫10), add a localCheckpoint every ~8 rounds — the
      // Components-loop pattern.
      rank = vd
        .join(attach(contrib), Seq("vertex"), "left")
        .select(col("vertex"), col("deg"),
          expr(s"$base + (coalesce(s, 0L) * 85) div 100").as("rank"))
    }
    rank.select(col("vertex"), col("rank"))
  }
}
