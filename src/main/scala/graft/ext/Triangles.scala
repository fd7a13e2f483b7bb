package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** Triangle counting over an undirected pair graph — the local-clustering
  * primitive (a dedup pair graph's triangle density distinguishes tight
  * template families from chains of borderline matches; in link graphs it
  * feeds clustering-coefficient spam signals).
  *
  * Scale design: the classic degree-ordered orientation (each undirected
  * edge is directed from its lower-(degree, id) endpoint to the higher).
  * Every triangle then has exactly ONE node with two outgoing edges, so
  * enumerating wedges from out-edges counts each triangle once, and the
  * per-node wedge fan-out is bounded by the out-degree, which orientation
  * caps at O(√m) on any graph (arboricity bound) — a hub with degree 10⁶
  * contributes no wedges from its own node because its edges point INTO it
  * from lower-degree neighbours. Three keyed shuffles total (degree agg,
  * wedge self-join on the apex, closing join on the wedge endpoints);
  * nothing quadratic, nothing broadcast-sized, no windows.
  */
object Triangles {

  /** Per-node triangle participation counts (nodes in ≥1 triangle).
    * `pairs` must be canonical (aCol < bCol, distinct) — the
    * [[JaccardDedup.similarPairs]] / [[Components]] edge convention.
    */
  def triangleCounts(pairs: DataFrame, aCol: String = "doc_a",
                     bCol: String = "doc_b"): DataFrame = {
    // pin the caller's edge expression ONCE: `pairs` is typically a
    // persisted pair-graph build whose cached plan is a full prefix-filter
    // join tree — without the checkpoint every downstream join re-embeds
    // (and the driver re-plans) that tree, and the unpersisted `oriented`
    // subtree below would re-EXECUTE once per consumer (two wedge sides +
    // the closing join = three runs of the degree joins; 10.2 s rebuild
    // median at sf0.1, round 16). The loop-invariant-input discipline of
    // PageRank.loopInputs, applied to a DAG: checkpoint the shared
    // relations eagerly, free them once the (node-sized) result is
    // materialized.
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b")).localCheckpoint(true)
    val deg = e.select(col("a").as("n")).unionAll(e.select(col("b").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // orient x→y iff (deg_x, x) < (deg_y, y): a total order, so exactly one
    // direction per edge; carry the destination's order key for the wedge
    // ordering below
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("n").as("b"), col("deg").as("db")), Seq("b"))
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("src"), col("b").as("dst"),
          col("db").as("ddeg")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"),
          col("da").as("ddeg"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"), col("o.ddeg").as("ddeg"))
      .localCheckpoint(true) // edge-table-sized, feeds three consumers
    // wedges at apex `src`: ordered endpoint pairs (b ≺ c in orientation
    // order); closing edge must be oriented b→c by construction
    val wedges = oriented.select(col("src"), col("dst").as("wb"), col("ddeg").as("wbd"))
      .join(oriented.select(col("src"), col("dst").as("wc"), col("ddeg").as("wcd")), Seq("src"))
      .filter(struct(col("wbd"), col("wb")) < struct(col("wcd"), col("wc")))
    val closed = wedges
      .join(oriented.select(col("src").as("wb"), col("dst").as("wc")), Seq("wb", "wc"))
      .select(col("src").as("a"), col("wb").as("b"), col("wc").as("c"))
    val counts = closed
      .select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("triangles"))
      // node-table-sized result, materialized so the inputs can be freed
      // here instead of leaking until the ContextCleaner gets to them (the
      // connectedComponents return contract: callers get a checkpointed
      // frame they can serve without recompute)
      .localCheckpoint(true)
    Materialize.release(e)
    Materialize.release(oriented)
    counts
  }

  /** Local clustering coefficient per node of degree ≥ 2:
    * `2·T / (deg·(deg−1))` — how close each node's neighbourhood is to a
    * clique (the template-family-vs-chain discriminator in a dedup pair
    * graph; a spam signal in link graphs). Degrees and triangle counts are
    * exact integers, the coefficient one IEEE division — engine-portable.
    * Adds one keyed agg + one keyed join over [[triangleCounts]].
    */
  def clusteringCoefficients(pairs: DataFrame, aCol: String = "doc_a",
                             bCol: String = "doc_b",
                             precomputedCounts: Option[DataFrame] = None): DataFrame = {
    val e = pairs.select(col(aCol).as("a"), col(bCol).as("b"))
    val deg = e.select(col("a").as("doc_id")).unionAll(e.select(col("b").as("doc_id")))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(precomputedCounts.getOrElse(triangleCounts(pairs, aCol, bCol)),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (coalesce(col("triangles"), lit(0L)) * lit(2.0) /
          (col("deg") * (col("deg") - 1))).as("coeff"))
  }
}
