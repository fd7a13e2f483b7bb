package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Materialize

/** PageRank in exact integer arithmetic — the link-graph centrality signal
  * web-corpus pipelines use for document-level quality weighting (OPT/
  * RefinedWeb-style "pages linked from important pages are themselves
  * important"; also the usual seed score for crawl frontier ordering).
  *
  * Why integer: cross-engine float summation is order-dependent, so a
  * float PageRank can never hash-match a DuckDB oracle. Scores here are
  * longs scaled by `scale` (default 1e12): every node starts at `scale`;
  * one round sends each node `(score DIV outdeg)` along each out-edge,
  * damps each arriving contribution to `(c · dampNum) DIV dampDen`
  * (default 17/20 = 0.85 exactly), and re-bases at
  * `scale · (dampDen − dampNum) / dampDen`. Floor division loses < 1
  * scaled unit (1e-12) per step — far below any ranking-relevant
  * difference — and makes every intermediate a deterministic 64-bit
  * integer in BOTH engines (DuckDB mirrors with `//`).
  *
  * Scale shape: each round is one keyed join (edge src → score) and one
  * keyed aggregation (sum by dst) — the standard message-passing round,
  * 16 B rows, shuffled on node keys; rounds localCheckpoint like the
  * [[Components]] fixpoint so lineage stays flat. Iteration count is
  * FIXED (default 10), not convergence-tested: a deterministic round
  * count is what lets the oracle unroll, and 10 rounds at damping 0.85
  * bounds the un-propagated tail to 0.85¹⁰ ≈ 20% of one hop — ranking-
  * stable on real graphs. Sink nodes (no out-edges) absorb and leak mass
  * (the "leaky" PageRank variant — documented, mirrored in the oracle);
  * feed bidirectional edges if sinks matter. Long-vs-overflow: a node's
  * in-sum is bounded by total graph mass ≈ |V|·scale, so at the default
  * scale the long headroom runs out around |V| ≈ 10⁶ on a worst-case
  * star graph; for web-scale graphs drop `scale` (1e9 → |V| ≈ 10⁹) — the
  * arithmetic contract is scale-relative, not absolute.
  */
object PageRank {

  private def checkParams(iters: Int, scale: Long, dampNum: Long, dampDen: Long): Long = {
    require(iters >= 1, s"pagerank: iters >= 1, got $iters")
    require(scale % dampDen == 0,
      s"pagerank: scale must be divisible by dampDen for an exact base, got $scale % $dampDen")
    require(dampNum > 0 && dampNum < dampDen, "pagerank: 0 < dampNum < dampDen")
    scale / dampDen * (dampDen - dampNum)
  }

  /** One message-passing round: damped floor-div contributions flow along
    * `ed` (src, dst, deg), and the re-base of nodes with no in-edges is a
    * UNION of one zero row per node into the aggregation itself — NOT a
    * node-table left join after it (round 16: that join subtree existed
    * only to resurrect absent nodes; `sum` over the contribution multiset
    * plus a single 0 equals `coalesce(sum(contribs), 0)` in exact long
    * arithmetic, so folding the zero rows into the same node-keyed exchange
    * computes the identical score while removing one join — and its
    * per-round sort/hash build over the node table — from every round).
    * Output: exactly one (node, score) row per node of `nodes`
    * (contribution dsts are always ⊆ nodes, so the group keys are the node
    * set).
    */
  private[graft] def roundNext(ed: DataFrame, nodes: DataFrame, scores: DataFrame,
                               base: Long, dampNum: Long, dampDen: Long): DataFrame =
    ed.join(scores.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .select(col("dst").as("node"),
        expr(s"((score DIV deg) * $dampNum) DIV $dampDen").as("c"))
      .unionByName(nodes.select(col("node"), lit(0L).as("c")))
      .groupBy(col("node")).agg((lit(base) + sum(col("c"))).as("score"))

  /** `(node, score)` after `iters` rounds over `edges` (`src`, `dst`
    * string columns; parallel edges are deliberate multi-edges — dedup
    * upstream if that is not the graph you mean).
    */
  /** The loop-invariant relations every round reads, prepared ONCE:
    * `(src, dst, deg)` hash-laid-out on the per-round join key and the
    * node table likewise — both as eager localCheckpoints with their TRUE
    * partitioning re-declared (round 16). Why checkpoints and not persist:
    * a persisted relation keeps its partitioning visible but embeds the
    * whole cached build plan into every round's query — the driver
    * re-plans that tree per round, measured 2× the per-round cost at bench
    * scale (PrDecomp) — while a plain checkpoint loses the layout
    * (`LogicalRDD` records UnknownPartitioning under AQE) and re-exchanges
    * the EDGE table every round, which is the dominant per-round shuffle
    * at web scale. `checkpointHashPartitioned` (repartition(n, key) →
    * checkpoint → declare hash(key, n)) gives both: leaf-sized round
    * plans AND an edge relation no round ever re-shuffles.
    */
  private[graft] def loopInputs(edges: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    // the caller's edge expression can be arbitrarily expensive (a join
    // pipeline); it feeds BOTH the degree build and the node set, so pin it
    val e = edges.select(col("src"), col("dst")).localCheckpoint(true)
    val ed = org.apache.spark.sql.GraftPartitioningBridge.checkpointHashPartitioned(
      e.join(e.groupBy(col("src")).agg(count(lit(1)).as("deg")), "src")
        .select(col("src"), col("dst"), col("deg")), Seq("src"))
    val nodes = org.apache.spark.sql.GraftPartitioningBridge.checkpointHashPartitioned(
      e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node"))).distinct(), Seq("node"))
    (e, ed, nodes)
  }

  def pagerankInt(edges: DataFrame, iters: Int = 10,
                  scale: Long = 1000000000000L,
                  dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    val base = checkParams(iters, scale, dampNum, dampDen)
    val (e, ed, nodes) = loopInputs(edges)
    var scores = nodes.withColumn("score", lit(scale)).localCheckpoint(true)
    var round = 0
    while (round < iters) {
      // shuffle_hash, not merge (inside roundNext): the checkpointed score
      // frame carries no stats, so the planner would sort-merge — re-SORTING
      // the edge side every round. Hashing the per-partition score slice is
      // the keyed, broadcast-free form that also holds at web scale (a
      // node-sized build side never fits one broadcast, but a partition's
      // slice does).
      val next = roundNext(ed, nodes, scores, base, dampNum, dampDen)
        .localCheckpoint(true)
      Materialize.release(scores)
      scores = next
      round += 1
    }
    Materialize.release(e)
    Materialize.release(ed)
    Materialize.release(nodes)
    scores
  }

  /** The ROUND LEDGER: `(round, node, score)` for every round 0..`iters` —
    * the state [[incrementalInt]] maintains. Same arithmetic and plan shape
    * per round as [[pagerankInt]]; the extra cost is only RETENTION (every
    * round's scores stay, in the one returned checkpoint), which is
    * iters × |V| 16-byte rows — node-table-sized state, the same class as
    * the CC label ledger, nowhere near corpus-sized.
    *
    * Why per-round scores must be retained at all: PageRank is a GLOBAL
    * fixpoint, so unlike components there is no contraction argument — an
    * exact incremental update of round k needs the OLD round k−1 score of
    * every unaffected in-neighbor of an affected node. With the rounds
    * retained, an ingest recomputes only the affected frontier per round
    * (see [[incrementalInt]]) and still lands BIT-IDENTICAL to the full
    * recompute.
    */
  def pagerankRounds(edges: DataFrame, iters: Int = 10,
                     scale: Long = 1000000000000L,
                     dampNum: Long = 17L, dampDen: Long = 20L): DataFrame = {
    val base = checkParams(iters, scale, dampNum, dampDen)
    val (e, ed, nodes) = loopInputs(edges)
    val rounds = scala.collection.mutable.ArrayBuffer[DataFrame](
      nodes.withColumn("score", lit(scale)).localCheckpoint(true))
    (1 to iters).foreach { _ =>
      rounds += roundNext(ed, nodes, rounds.last, base, dampNum, dampDen)
        .localCheckpoint(true)
    }
    // the ledger is checkpointed ONCE as a whole, so the per-round
    // checkpoints it was built from can be freed with the loop inputs
    val ledger = rounds.zipWithIndex
      .map { case (scores, r) => scores.withColumn("round", lit(r)) }
      .reduce(_.unionByName(_))
      .select(col("round"), col("node"), col("score"))
      .localCheckpoint(true)
    (rounds ++ Seq(e, ed, nodes)).foreach(Materialize.release(_))
    ledger
  }

  /** EXACT incremental PageRank maintenance — the operational form at
    * 100 TB, where a daily edge ingest cannot re-run `iters` message-passing
    * rounds over the whole graph. Given the retained round ledger of the
    * PRE-batch graph ([[pagerankRounds]] output), the post-batch FULL edge
    * set, and the batch's NEW edges (`newEdges` ⊆ `fullEdges`, edges are
    * facts — additions only, the ledger-family contract), returns
    * `(node, score)` BIT-IDENTICAL to `pagerankInt(fullEdges, iters)`.
    *
    * Mechanism — frontier-bounded recompute: round k's score of node v can
    * differ from the ledger only if (a) some in-neighbor u changed OUT-
    * DEGREE (u ∈ D = sources of new edges — deg divides every round's
    * contribution), (b) some in-neighbor's round-(k−1) score changed
    * (u ∈ A_{k−1}), or (c) v is NEW (absent from the ledger). So the
    * affected set A_k = outNbrs(A_{k−1} ∪ D) ∪ N is a conservative
    * superset, every node in it is recomputed EXACTLY from its full
    * in-edge set — unaffected in-neighbors read their round-(k−1) score
    * from the ledger — and everything outside it keeps its ledger score
    * verbatim. Equality with the recompute is therefore structural, and
    * the registry checks it against the same unrolled-CTE oracle as the
    * full run.
    *
    * Scale shape per round: one keyed semi-join restricting `fullEdges` to
    * in-edges of A_k, one keyed score lookup for those edges' sources
    * (new-frontier scores ∪ ledger round k−1, both keyed on node), one
    * keyed aggregation — every job is FRONTIER-sized except the ledger
    * lookup, which is one keyed join against node-table-sized state (the
    * `incrementalComponents` remap-join class). Nothing ever iterates the
    * full edge set. `statsOut`, when supplied, records |A_k| per round —
    * the spec pins cost ∝ batch with it.
    *
    * DENSITY GUARD: the frontier pays off exactly when the batch's
    * influence ball stays small relative to the graph — high-diameter
    * graphs, localized updates. On a dense small-world graph (the
    * co-purchase fixture) ANY meaningful batch's out-neighborhood covers
    * most nodes within a couple of damping rounds, and the frontier
    * machinery becomes pure overhead on top of a de-facto full recompute.
    * So when the round-1 seed (outNbrs(D) ∪ N ∪ D) already exceeds
    * `fallbackFraction` of the node set, the update falls back to the
    * plain fixed-round run over `fullEdges` — the RESULT is identical by
    * construction (the incremental path is exact), only the plan changes;
    * `statsOut` stays empty, which is how callers observe the fallback.
    */
  def incrementalInt(ledger: DataFrame, fullEdges: DataFrame, newEdges: DataFrame,
                     iters: Int = 10, scale: Long = 1000000000000L,
                     dampNum: Long = 17L, dampDen: Long = 20L,
                     statsOut: Option[scala.collection.mutable.ArrayBuffer[Long]] = None,
                     fallbackFraction: Double = 0.5): DataFrame =
    incrementalCore(ledger, fullEdges, newEdges, iters, scale, dampNum,
      dampDen, statsOut, wantLedger = false, fallbackFraction)

  /** [[incrementalInt]]'s LEDGER form: returns the full UPDATED round
    * ledger `(round, node, score)` for rounds 0..`iters` — what a
    * maintainer persists so the NEXT ingest can run incrementally too
    * (see [[graft.streaming.PageRankLedgerStream]]). Same frontier-bounded
    * recompute; the extra cost is one node-table-keyed merge join per
    * round to fold the frontier's new scores into the retained rounds —
    * still never an edge-wide pass. Round `iters` of the result is
    * bit-identical to [[incrementalInt]]'s output.
    */
  def incrementalLedger(ledger: DataFrame, fullEdges: DataFrame, newEdges: DataFrame,
                        iters: Int = 10, scale: Long = 1000000000000L,
                        dampNum: Long = 17L, dampDen: Long = 20L,
                        fallbackFraction: Double = 0.5): DataFrame =
    incrementalCore(ledger, fullEdges, newEdges, iters, scale, dampNum,
      dampDen, statsOut = None, wantLedger = true, fallbackFraction)

  private def incrementalCore(ledger: DataFrame, fullEdges: DataFrame, newEdges: DataFrame,
                              iters: Int, scale: Long,
                              dampNum: Long, dampDen: Long,
                              statsOut: Option[scala.collection.mutable.ArrayBuffer[Long]],
                              wantLedger: Boolean,
                              fallbackFraction: Double = 0.5): DataFrame = {
    val base = checkParams(iters, scale, dampNum, dampDen)
    require(fallbackFraction > 0,
      s"pagerank: fallbackFraction must be > 0, got $fallbackFraction")
    // NOT persisted yet: the guard reads it once, and the fallback path
    // never touches it again — only the frontier path pins it
    val e = fullEdges.select(col("src"), col("dst"))
    val oldNodes = ledger.filter(col("round") === 0).select(col("node"))
    val endpoints = newEdges.select(col("src").as("node"))
      .union(newEdges.select(col("dst").as("node")))
    // density guard (see incrementalInt doc), as ONE lazy aggregation
    // BEFORE any state is materialized: if the round-1 seed (outNbrs(D) ∪
    // D ∪ N) already covers most of the node set, the frontier machinery
    // cannot win — run the plain fixed-round recompute instead (identical
    // result). Guard cost on the fallback path: this single job.
    val dLazy = newEdges.select(col("src")).distinct()
    val nLazy = endpoints.distinct().join(oldNodes, Seq("node"), "left_anti")
    val seedLazy = e
      .join(dLazy.withColumnRenamed("src", "s"), col("src") === col("s"), "left_semi")
      .select(col("dst").as("node"))
      .union(dLazy.select(col("src").as("node")))
      .union(nLazy).distinct()
    val guardCounts = oldNodes.union(endpoints).distinct().select(lit(0).as("t"))
      .union(seedLazy.select(lit(1).as("t")))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val totalNodes = guardCounts.getOrElse(0, 0L)
    val seedSize = guardCounts.getOrElse(1, 0L)
    if (totalNodes == 0 || seedSize > fallbackFraction * totalNodes) {
      return if (wantLedger) pagerankRounds(fullEdges, iters, scale, dampNum, dampDen)
      else pagerankInt(fullEdges, iters, scale, dampNum, dampDen)
    }
    // frontier path: NOW pin the edge view and materialize the batch-sized
    // state (the guard's lazy plans re-run once — frontier-sized by the
    // guard's own verdict)
    e.persist()
    // full-graph out-degrees: ONE aggregation over the edge table per
    // ingest (keyed, map-side combined), joined only onto frontier edges
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
    // D: sources whose out-degree/out-edge set changed this batch
    val d = dLazy.localCheckpoint(true)
    // N: endpoints the old graph never saw (need scores at every round)
    val n = nLazy.localCheckpoint(true)
    // round 0 is uniform (= scale) for old AND new nodes, so no old score
    // changes at round 0; the frontier starts from D's out-neighbors.
    var affected = e.join(d.withColumnRenamed("src", "s"), col("src") === col("s"), "left_semi")
      .select(col("dst").as("node")).distinct()
      .union(n).distinct().localCheckpoint(true)
    var newScores: DataFrame = null // A_k rows only: (node, score)
    // ledger form: the per-round frontier scores, retained for the merge
    val roundScores = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var round = 1
    while (round <= iters) {
      statsOut.foreach(_ += affected.count())
      // in-edges of the affected set (keyed semi-restriction, frontier-sized)
      val inE = e.join(affected.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi")
      // sources feeding those edges, with their round-(k-1) scores: the new
      // frontier value when the source was affected, the ledger otherwise
      // (round 1 reads the uniform init — no lookup needed)
      val srcScores =
        if (round == 1)
          inE.select(col("src")).distinct().withColumn("score", lit(scale))
        else {
          val prevLedger = ledger.filter(col("round") === round - 1)
            .select(col("node").as("src"), col("score").as("old_s"))
          inE.select(col("src")).distinct()
            .join(newScores.select(col("node").as("src"), col("score").as("new_s")), Seq("src"), "left")
            .join(prevLedger, Seq("src"), "left")
            .select(col("src"), coalesce(col("new_s"), col("old_s")).as("score"))
        }
      // same union-into-the-aggregation re-base as roundNext, with the
      // affected set playing the node table (contribution dsts ⊆ affected
      // by inE's semi-restriction, so the group keys are exactly A_k)
      val nextScores = inE
        .join(srcScores.hint("shuffle_hash"), "src")
        .join(deg, "src")
        .select(col("dst").as("node"),
          expr(s"((score DIV deg) * $dampNum) DIV $dampDen").as("c"))
        .unionByName(affected.select(col("node"), lit(0L).as("c")))
        .groupBy(col("node")).agg((lit(base) + sum(col("c"))).as("score"))
        .localCheckpoint(true)
      if (newScores != null && !wantLedger) Materialize.release(newScores)
      newScores = nextScores
      if (wantLedger) roundScores += newScores
      if (round < iters) {
        // A_{k+1} = outNbrs(A_k ∪ D) ∪ N — grown BEFORE scores are needed
        val nextAffected = e
          .join(affected.union(d.withColumnRenamed("src", "node")).distinct()
            .withColumnRenamed("node", "src"), Seq("src"), "left_semi")
          .select(col("dst").as("node")).distinct()
          .union(n).distinct().localCheckpoint(true)
        Materialize.release(affected)
        affected = nextAffected
      }
      round += 1
    }
    // merge: affected nodes take the recomputed score, everything else
    // keeps its ledger score verbatim
    def mergeRound(r: Int, fresh: DataFrame): DataFrame =
      ledger.filter(col("round") === r)
        .select(col("node"), col("score").as("old_s"))
        .join(fresh.withColumnRenamed("score", "new_s"), Seq("node"), "full")
        .select(col("node"), coalesce(col("new_s"), col("old_s")).as("score"))
    val out =
      if (!wantLedger) mergeRound(iters, newScores).localCheckpoint(true)
      else {
        // round 0 is uniform for everyone — new nodes just join at scale
        val r0 = mergeRound(0, n.withColumn("score", lit(scale)))
          .withColumn("round", lit(0))
        (1 to iters).map(r =>
            mergeRound(r, roundScores(r - 1)).withColumn("round", lit(r)))
          .foldLeft(r0)(_.unionByName(_))
          .select(col("round"), col("node"), col("score"))
          .localCheckpoint(true)
      }
    if (wantLedger) roundScores.foreach(Materialize.release(_))
    else Materialize.release(newScores)
    Seq(affected, d, n, e, deg).foreach(Materialize.release(_))
    out
  }
}
