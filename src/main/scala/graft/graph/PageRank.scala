package graft.graph

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.functions.Rounding.fround

/** Distributed PageRank over an edge relation — the centrality pass of a
  * document-similarity graph (e.g. near-dup edges from
  * [[graft.dedup.Dedup.jaccardPairs]]): high-rank docs are the "canonical"
  * representatives a curation pipeline keeps or weights up.
  *
  * Fixed-iteration simplified PageRank:
  * rank₀ = 1/N;  rankₜ₊₁(v) = (1−d)/N + d·Σ_{u→v} rankₜ(u)/deg(u).
  * Dangling mass is dropped (deterministic; the standard simplification
  * when ranks are used ordinally). Every cross-row reduction rounds its
  * terms to 12 dp and accumulates in DECIMAL, and each iteration's ranks
  * round to 9 dp — the whole trace is partitioning-independent and
  * bit-reproducible by a relational engine unrolling the same
  * iterations.
  *
  * Scale: the edges are grouped once into an adjacency relation
  * (src, dsts) — out-degree is `size(dsts)` — and every iteration is one
  * shuffle join of that relation against the rank relation, an explode
  * of each source's share over its out-edges, and a partial-aggregated
  * contribution shuffle. Every iteration reads the identical adjacency
  * subtree, so an executed plan computes its exchange once and the other
  * iterations reuse it: the edge derivation (e.g. a Jaccard self-join)
  * runs once per Spark job, not once per reference. Nothing ever
  * collects; N is the only driver-side scalar. At 100 TB the adjacency
  * relation dominates and AQE handles its skew.
  */
object PageRank {
  /** Iterations between lineage truncations — deep enough to amortize
    * the eager materialization, shallow enough that the optimizer never
    * sees more than ~5 iterations of plan. */
  private val CheckpointEvery = 5

  /** @param nodes single-column vertex relation (column `v`)
    * @param edges directed edge relation (columns `src`, `dst`);
    *              symmetrize before calling for undirected graphs
    * @param d     damping factor (0.85 conventionally)
    * @param iters fixed iteration count (upper bound when `tol` is set)
    * @param tol   optional early stop: end when no rank moved more than
    *              `tol` across one iteration, checked only at checkpoint
    *              boundaries (one driver-side scalar per
    *              [[CheckpointEvery]] iterations — ranks are 9-dp-pinned,
    *              so `tol = 0` stops at the exact rounded fixpoint and
    *              further iterations provably change nothing)
    * @return (v, rank) for every vertex */
  def run(nodes: DataFrame, edges: DataFrame, d: Double, iters: Int,
          tol: Option[Double] = None): DataFrame = {
    val n = nodes.count()
    require(n > 0, "PageRank.run: empty vertex set")
    val nD = n.toDouble
    val reset = (1d - d) / nD
    // one adjacency relation, not (edges, deg): each iteration then reads
    // one identical subtree, whose exchange the planner reuses across
    // iterations — a separate degree aggregate would be a second,
    // differently-shaped reader of the edges and re-derive them
    val adj = edges.groupBy(col("src")).agg(collect_list(col("dst")).as("dsts"))
    var ranks = nodes.select(col("v"), lit(1d / nD).as("r"))
    // the checkpoint behind `ranks`, once one is taken; one live at a time
    var live: Option[graft.core.Par.Checkpoint] = None
    try {
      var it = 0
      var converged = false
      while (it < iters && !converged) {
        val prev = ranks // ≤ CheckpointEvery iterations of lineage
        val contrib = adj
          .join(ranks.withColumnRenamed("v", "src"), "src")
          .select(explode(col("dsts")).as("v"),
            fround(col("r") / size(col("dsts")), 12).cast("decimal(38,12)").as("c"))
          .groupBy(col("v"))
          .agg(sum(col("c")).cast("double").as("s"))
        ranks = nodes.join(contrib, Seq("v"), "left")
          .select(col("v"),
            fround(lit(reset) + lit(d) * coalesce(col("s"), lit(0d)), 9).as("r"))
        it += 1
        // lineage truncation: without it each iteration's plan embeds the
        // whole previous plan and DRIVER planning time grows superlinearly
        // with iters — same cure as Dedup.connectedComponents. Values are
        // 9-dp-pinned per iteration, so checkpointing never changes them.
        if (it % CheckpointEvery == 0 && it < iters) {
          val next = graft.core.Par.materialize(ranks)
          ranks = next.df
          tol.foreach { eps =>
            // compare THIS iteration against the one before it — a
            // consecutive-step delta, so eps=0 certifies a true fixpoint
            // (the update is deterministic: unchanged input ⇒ unchanged
            // output), not a longer-period cycle
            val delta = ranks
              .join(prev.withColumnRenamed("r", "rp"), "v")
              .agg(max(abs(col("r") - col("rp")))).head().getDouble(0)
            if (delta <= eps) converged = true
          }
          // `prev` was the last reader of the older checkpoint
          live.foreach(_.close())
          live = Some(next)
        }
      }
    } catch { case NonFatal(e) => live.foreach(_.close()); throw e }
    // the result reads the last checkpoint, so the caller owns it
    ranks.select(col("v"), col("r").as("rank"))
  }
}
