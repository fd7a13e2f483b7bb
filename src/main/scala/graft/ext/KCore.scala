package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** k-core decomposition over an undirected pair graph — the graph-shape
  * curation signal the dedup family doesn't give: a document that survives
  * peeling at high k sits inside a DENSELY interlinked near-dup/citation
  * neighborhood (template farms, mirror rings, link spam), while bridges
  * and tendrils peel away early. Web-curation pipelines use the core
  * number the way they use PageRank — as a structural feature, but one
  * that measures local density instead of global reachability.
  *
  * [[kCore]] computes the FIXPOINT k-core membership (repeat: drop every
  * node with degree < k among survivors), peeling in ROUNDS — each round
  * removes all sub-k nodes at once, so the loop's round count is bounded
  * by the graph's degeneracy ordering depth, not its node count (the CC
  * loop's shape: a handful of keyed shuffles, payload-free 16 B rows).
  * The fixpoint is unique (the k-core is the maximal subgraph with min
  * degree ≥ k, independent of removal order), so the result is
  * oracle-checkable; the oracle unrolls the same peel as chained CTEs and
  * a pinned round budget makes both engines compute the identical object
  * (fail-loud if the budget is ever too small, never a partial answer).
  *
  * Both peels run in [[graft.Materialize.rounds]], like
  * [[Components.connectedComponents]]: one checkpoint per round to cut
  * lineage, the replaced round released at once (waiting for the
  * ContextCleaner pins up to maxIter copies of the edge table in executor
  * storage), convergence tested with ONE job per round (count of
  * survivors, monotone decreasing), ids required integral at entry.
  */
object KCore {

  /** Surviving `(node, degree)` of the k-core (degree WITHIN the core).
    * Nodes outside the core are absent; an empty result means the graph
    * has no k-core. Fails after `maxIter` rounds rather than returning a
    * partially peeled graph.
    */
  def kCore(edges: DataFrame, k: Int, aCol: String = "doc_a",
            bCol: String = "doc_b", maxIter: Int = 30): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    Components.requireIntegralIds("kCore", edges, Seq(aCol, bCol))
    var prev = -1L // the previous round's directed edge count; strictly decreases
    degrees(Materialize.rounds(simpleEdges(edges, aCol, bCol))((sym, _) => peel(sym, k))(
      Materialize.Until(maxIter, () => new IllegalArgumentException(
        s"requirement failed: kCore: no fixpoint after $maxIter rounds")) { (_, sym) =>
        val n = sym.count() // the round's ONE job
        val done = n == prev || n == 0L
        prev = n
        done
      }))
  }

  /** Peel exactly `rounds` rounds (no convergence test) — the bounded twin
    * whose unrolled-CTE oracle is byte-identical by construction; equals
    * [[kCore]] whenever `rounds` covers the fixpoint depth (pinned in the
    * spec).
    */
  def kCoreRounds(edges: DataFrame, k: Int, rounds: Int,
                  aCol: String = "doc_a", bCol: String = "doc_b"): DataFrame = {
    require(k >= 1 && rounds >= 0, s"kCoreRounds: k=$k rounds=$rounds")
    Components.requireIntegralIds("kCoreRounds", edges, Seq(aCol, bCol))
    degrees(Materialize.rounds(simpleEdges(edges, aCol, bCol))((sym, _) => peel(sym, k))(
      Materialize.After(rounds)))
  }

  /** The symmetric edge set without parallel edges — a multigraph would
    * double-count them in the degrees.
    */
  private def simpleEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    Components.symmetricEdges(edges, aCol, bCol).distinct()

  /** One peel round: drop every node of degree < k over the CURRENT edge
    * set, and every edge that loses an endpoint (both must survive).
    */
  private def peel(sym: DataFrame, k: Int): DataFrame = {
    val keep = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= k).select(col("src").as("node"))
    sym
      .join(keep.select(col("node").as("src")), Seq("src"), "left_semi")
      .join(keep.select(col("node").as("dst")), Seq("dst"), "left_semi")
      .select(col("src"), col("dst"))
  }

  /** The node-sized `(node, degree)` result, checkpointed so the last
    * round's edge checkpoint can be freed here (the Triangles shape).
    */
  private def degrees(sym: DataFrame): DataFrame = {
    val out = Materialize.checkpoint(
      sym.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree")))
    Materialize.release(sym)
    out
  }
}
