package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Materialize

/** Connected components over a near-duplicate pair graph — the step that
  * turns PAIRS into DEDUP DECISIONS. Pairwise output (JaccardDedup,
  * MinHashDedup, SimHash, embedPairsLsh) is not yet a dedup: similarity is
  * not transitive, so a~b, b~c chains must collapse into one cluster with
  * one kept representative (the convention throughout this codebase: the
  * minimum doc id). Dropping `doc_b` of every pair — the naive rule — keeps
  * BOTH a and b of an a–c, b–c chain even though all three are one
  * duplicate cluster.
  *
  * Algorithm: min-label propagation. Every node starts labeled with itself;
  * each round a node's label becomes the min of its own and its neighbors'
  * labels; converged when no label changes. Rounds = graph diameter, which
  * for near-dup clusters is small (duplicates of a document are duplicates
  * of each other — clusters are near-cliques). Each round is one keyed
  * shuffle of (node, label) pairs — 16 B/row, payload-free. Both loops
  * here run in [[graft.Materialize.rounds]]: one checkpoint per round, the
  * replaced round released, and everything the loop made released before
  * its fail-loud throw. For general
  * graphs with long chains at 100 TB scale, the alternating
  * large-star/small-star algorithm (Kiveris et al.) converges in O(log n)
  * rounds with the same join primitive; the propagation loop here is the
  * right tool for the dedup-cluster shape and FAILS LOUDLY (rather than
  * returning partial labels) if `maxIter` rounds don't converge.
  *
  * Determinism: labels are mins over a fixed edge set — the fixpoint is
  * unique regardless of execution order, so the result is oracle-checkable
  * (DuckDB recursive CTE computes the same fixpoint in `x_dedup_cc`).
  *
  * Fault-tolerance note: the rounds' checkpoints are `localCheckpoint`s,
  * whose blocks are not replayable — an executor loss mid-loop fails the
  * job (rerun, it's deterministic). A cluster deployment that must survive
  * executor churn should use reliable `checkpoint()` with a checkpoint dir
  * instead; the trade is HDFS writes per round.
  */
object Components {

  /** (node, component) for every node appearing in `edges`; component =
    * min node id reachable. Nodes with no edges don't appear (a doc with
    * no near-dup pair is its own trivial cluster).
    */
  def connectedComponents(edges: DataFrame, aCol: String = "doc_a",
                          bCol: String = "doc_b", maxIter: Int = 25): DataFrame = {
    // ids must be integral: a silent cast of string/UUID ids to long would
    // NULL every node, converge instantly, and report "no duplicates" —
    // the worst possible failure mode for a dedup. Fail at entry instead.
    requireIntegralIds("connectedComponents", edges, Seq(aCol, bCol))
    // checkpointed (eager), NOT persisted, like every round below: an
    // iterative join grows the LOGICAL plan exponentially (every round's
    // plan embeds the previous round's whole lineage — persist caches data
    // but never truncates the plan), and re-optimizing/codegen-ing that
    // tree runs out of memory long before the data is large.
    // NOT pre-laid-out by hash(dst) (round-16 measurement): the PageRank
    // loop's checkpointHashPartitioned treatment was tried here too — it
    // removes the per-round edge-side exchange, but the up-front
    // repartition pass only pays back over many rounds, and dedup-cluster
    // graphs converge in 2–3 (x_entity_resolution, whose serve runs this
    // loop over a fuzzy-join pair graph, measured 2.78 → 3.10 s with it;
    // cc_ledger flat). A deployment running high-diameter graphs at scale
    // should lay `sym` out once like PageRank.loopInputs does.
    val sym = Materialize.checkpoint(symmetricEdges(edges, aCol, bCol))
    val labels = try Materialize.rounds(sym.select(col("src").as("node")).distinct()
        .withColumn("label", col("node"))) { (labels, _) =>
      // neighbor labels flow along edges; a node's new label is the min of
      // its own and everything that arrived. The self branch is TAGGED so
      // the aggregation emits the node's previous label alongside the new
      // one (each node has exactly one self row) — the convergence test
      // then reads the checkpointed rows directly instead of paying a
      // node-table-wide join back to the previous round (round 15: one
      // shuffle per round removed; fixpoint and iterates are unchanged —
      // the min is over the identical multiset).
      // shuffle_hash on the label side: without the hint the planner
      // sort-merges, which would SORT the (never re-shuffled) edge table
      // every round; hashing the per-partition label slice is the keyed,
      // broadcast-free form that holds at web scale (the PageRank round's
      // argument)
      sym.join(labels.select(col("node").as("dst"), col("label")).hint("shuffle_hash"), Seq("dst"))
        .select(col("src").as("node"), col("label"), lit(false).as("self"))
        .union(labels.select(col("node"), col("label"), lit(true).as("self")))
        .groupBy(col("node"))
        .agg(min(col("label")).as("label"),
          max(when(col("self"), col("label"))).as("old"))
    }(Materialize.Until(maxIter, () => new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds — " +
          "graph diameter exceeds the dedup-cluster assumption; raise maxIter " +
          "or use connectedComponentsStar (O(log n) rounds on any diameter)")) {
      (prev, labels) => prev.nonEmpty && labels.filter(col("label") < col("old")).count() == 0
    })
    finally Materialize.release(sym)
    labels.select(col("node").as("doc_id"), col("label").as("component"))
  }

  private[ext] def requireIntegralIds(caller: String, edges: DataFrame, cols: Seq[String]): Unit =
    cols.foreach { c =>
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val dt = edges.schema(c).dataType
      val integral = dt == ByteType || dt == ShortType || dt == IntegerType || dt == LongType
      require(integral,
        s"$caller: $c must be an integral id column, got $dt " +
          "(hash non-numeric ids to 64-bit first, e.g. xxhash64)")
    }

  /** Both directions of every `(aCol, bCol)` edge as long `(src, dst)`
    * rows — the undirected graph as a directed edge list.
    */
  private[ext] def symmetricEdges(edges: DataFrame, aCol: String, bCol: String): DataFrame =
    edges.select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(edges.select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))

  /** Alternating large-star/small-star connected components (Kiveris et
    * al., "Connected Components in MapReduce and Beyond") — same output
    * contract as [[connectedComponents]], but round count is O(log n) in
    * the COMPONENT SIZE rather than proportional to graph diameter, so it
    * handles long-chain graphs min-label propagation would reject.
    * Propagation stays the default for dedup graphs (near-clique clusters
    * converge in 2-3 cheaper rounds); reach for this when components can
    * be paths/meshes — entity-resolution chains, citation graphs.
    *
    *  - large-star: every node links its LARGER neighbors to the minimum
    *    of its neighborhood (incl. itself) — long tails fold in half;
    *  - small-star: every node links its smaller-or-self neighborhood to
    *    that minimum — stars flatten onto their centers.
    *
    * Both steps emit canonical (bigger → smaller) edges, preserve
    * connectivity, and never grow the edge set beyond the symmetric
    * original (paper, Lemmas 1-2); the fixpoint of their composition is a
    * star forest whose centers are the component minima. Each round is two
    * keyed aggregations + a join over (long, long) edges — 16 B/row
    * shuffles, payload-free, same discipline as propagation: the rounds
    * run in [[graft.Materialize.rounds]], which checkpoints each one for
    * the same plan-growth reason.
    */
  def connectedComponentsStar(edges: DataFrame, aCol: String = "doc_a",
                              bCol: String = "doc_b", maxIter: Int = 50): DataFrame = {
    requireIntegralIds("connectedComponentsStar", edges, Seq(aCol, bCol))

    // every node of the INPUT graph — taken before self-loops are dropped,
    // so a node appearing only as (x, x) still labels itself in the output
    // (same contract as propagation, whose symmetric edge set keeps it)
    val originalNodes = Materialize.checkpoint(edges.select(col(aCol).cast("long").as("node"))
      .union(edges.select(col(bCol).cast("long").as("node"))).distinct())
    // canonical directed edges u > v, self-loops dropped, deduped
    val canon = edges.select(
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("u"),
        least(col(aCol).cast("long"), col(bCol).cast("long")).as("v"))
      .filter(col("u") =!= col("v")).distinct()

    // for each center: min over its (symmetric) neighborhood and itself,
    // then re-link larger neighbors to that min
    def largeStar(cur: DataFrame): DataFrame = {
      val sym = cur.union(cur.select(col("v").as("u"), col("u").as("v")))
      val mins = sym.groupBy(col("u").as("c")).agg(min(col("v")).as("mn"))
        .select(col("c"), least(col("mn"), col("c")).as("m"))
      sym.join(mins, sym("u") === mins("c"))
        .filter(col("v") > col("c")) // larger neighbors only
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    // for each center: link its smaller neighbors and itself to the min of
    // that set (directed rep means every neighbor here is already smaller)
    def smallStar(cur: DataFrame): DataFrame = {
      val mins = cur.groupBy("u").agg(min(col("v")).as("m"))
      val relinked = cur.join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      val self = mins.select(col("u"), col("m").as("v")) // u > m always
      relinked.union(self).distinct()
    }

    try {
      val star = Materialize.rounds(canon)((e, _) => smallStar(largeStar(e)))(
        Materialize.Until(maxIter, () => new IllegalStateException(
          s"connectedComponentsStar: no fixpoint after $maxIter rounds — " +
            "raise maxIter (rounds grow O(log n), so this indicates a bug or " +
            "an adversarial id distribution, not normal data)")) { (prev, next) =>
          // both sides are distinct canonical sets, so tagging rows ±1 and
          // summing per edge gives 0 everywhere <=> identical sets; one keyed
          // aggregation + take(1) — ONE job per round where the previous
          // count()+except().isEmpty form paid three (r8 bench flagged the
          // loop's per-round overhead at 20+ rounds on chain-heavy graphs)
          prev.exists(_.select(col("u"), col("v"), lit(1).as("tag"))
            .union(next.select(col("u"), col("v"), lit(-1).as("tag")))
            .groupBy(col("u"), col("v")).agg(sum(col("tag")).as("d"))
            .filter(col("d") =!= 0).isEmpty)
        })
      // fixpoint = star forest: every non-center has exactly one edge to its
      // component min; centers label themselves. Materialize BEFORE freeing
      // the inputs the plan reads from — their lineage is truncated and
      // cannot recompute.
      val out = Materialize.checkpoint(originalNodes
        .join(star.withColumnRenamed("u", "node"), Seq("node"), "left")
        .select(col("node").as("doc_id"),
          coalesce(col("v"), col("node")).as("component")))
      Materialize.release(star)
      out
    } finally Materialize.release(originalNodes)
  }

  /** Incremental ledger maintenance — the operational form at 100 TB,
    * where a daily ingest CANNOT recompute components over the whole
    * corpus. Given the existing ledger `labels` (doc_id, component — the
    * [[connectedComponents]] contract: component = min reachable id) and
    * the batch's NEW edges (batch↔batch and batch↔corpus pairs from the
    * incremental dedup joins), produces the updated full ledger, provably
    * equal to a recompute over `oldEdges ∪ newEdges`:
    *
    *  1. CONTRACT: each endpoint maps to its current component label (its
    *     own id if unseen) — old components become super-nodes. Edges
    *     inside one old component contract to self-loops and vanish.
    *  2. Run CC on the contracted graph — BATCH-sized, not corpus-sized
    *     (nodes = touched component roots + new docs).
    *  3. REMAP: one keyed join relabels old components whose root moved;
    *     untouched components (the overwhelming majority) pass through
    *     unjoined.
    *
    * Equality with the recompute holds because an old label is the MIN id
    * of its members, so the min over a merged component's contracted nodes
    * is the min over all underlying members. Per-ingest cost is
    * O(|new edges|) + one ledger-wide remap join — never a corpus-wide
    * fixpoint. The registry entry's oracle is the SAME recursive-CTE
    * fixpoint as `x_dedup_cc`, making "incremental == recompute" the
    * checked contract itself.
    *
    * Storage: the local union-find path returns a lazy plan; the
    * distributed path returns a checkpoint, which the caller releases.
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame,
                            aCol: String = "doc_a", bCol: String = "doc_b",
                            maxIter: Int = 25,
                            smallGraphEdges: Long = -1L): DataFrame = {
    // -1 = read `spark.graft.cc.unionFindMaxEdges` (default 500k); an
    // explicit value pins the bound (0 disables the fast path outright)
    val edgeBound =
      if (smallGraphEdges < 0L) confSmallGraphEdges(labels) else smallGraphEdges
    requireIntegralIds("incrementalComponents", newEdges, Seq(aCol, bCol))
    val lab = labels.select(col("doc_id").cast("long").as("node"),
      col("component").cast("long").as("label"))
    val e = newEdges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    // materialized ONCE: the size certificate below and whichever CC path
    // wins both read these blocks — the contract joins never re-run
    val contracted = Materialize.checkpoint(e
      .join(lab.select(col("node").as("a"), col("label").as("la")), Seq("a"), "left")
      .join(lab.select(col("node").as("b"), col("label").as("lb")), Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("doc_a"),
        coalesce(col("lb"), col("b")).as("doc_b"))
      .filter(col("doc_a") =!= col("doc_b")))
    // CERTIFIED size gate, not an estimate: the contracted graph is
    // batch-sized by construction, and when its exact edge count fits the
    // driver bound, a local union-find replaces ~diameter rounds of
    // (join + agg + checkpoint + count) jobs whose per-job overhead
    // dominates at batch scale. The distributed loop stays the overflow
    // path — a batch whose contracted graph exceeds the bound (or a
    // caller passing smallGraphEdges = 0) takes it unconditionally, so
    // driver memory is never hostage to a surprise mega-batch. Both paths
    // compute the same unique fixpoint (min reachable id) — pinned against
    // each other across the bound in ComponentsSpec, and the registry
    // entry's recursive-CTE oracle checks the merged result either way.
    val nEdges = contracted.count()
    val fast = edgeBound > 0L && nEdges <= edgeBound
    // either path materializes everything it reads from the contracted
    // blocks (UF collects them; the loop's labels are checkpointed), so the
    // checkpoint can be dropped before the lazy remap below is consumed
    val merged = try {
      if (fast) {
        val rows = contracted.collect()
        val pairs = new Array[Long](rows.length * 2)
        var i = 0
        while (i < rows.length) {
          pairs(2 * i) = rows(i).getLong(0); pairs(2 * i + 1) = rows(i).getLong(1); i += 1
        }
        val labeled = unionFindMinLabels(pairs)
        labels.sparkSession.createDataFrame(
          java.util.Arrays.asList(labeled.map { case (n2, c) =>
            org.apache.spark.sql.Row(n2, c) }: _*),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("component",
              org.apache.spark.sql.types.LongType, nullable = false))))
      } else connectedComponents(contracted, maxIter = maxIter)
    } finally Materialize.release(contracted)
    // old components whose root was pulled into a bigger merge
    val rootMap = merged.select(col("doc_id").as("label"), col("component").as("newlab"))
    val updatedOld = lab.join(rootMap, Seq("label"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("newlab"), col("label")).as("component"))
    // endpoints never seen before: labeled by the contracted run, or
    // themselves when their only edges contracted away (same-component)
    val newNodes = e.select(col("a").as("node")).union(e.select(col("b").as("node")))
      .distinct()
      .join(lab, Seq("node"), "left_anti")
    val newLabeled = newNodes
      .join(merged.select(col("doc_id").as("node"), col("component")), Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("component"), col("node")).as("component"))
    if (fast) updatedOld.union(newLabeled)
    else {
      // the loop's labels are a checkpoint made here: the result over them
      // is checkpointed before they are freed
      val out = Materialize.checkpoint(updatedOld.union(newLabeled))
      Materialize.release(merged)
      out
    }
  }

  /** Driver bound for [[incrementalComponents]]'s union-find fast path, in
    * CONTRACTED edges (exact count, certified before any collect). 500k
    * edges collect to ~8 MB of longs plus transient Row overhead — safely
    * inside any driver sizing — while covering every realistic ingest batch
    * (the contracted graph is batch-sized, not corpus-sized, by
    * construction). Parameterised via `spark.graft.cc.unionFindMaxEdges`
    * (conf, read per call) so a deployment can widen or disable (0) it
    * without a code change.
    */
  private[ext] def defaultSmallGraphEdges: Long = 500000L

  private[ext] def confSmallGraphEdges(df: DataFrame): Long =
    df.sparkSession.conf.getOption("spark.graft.cc.unionFindMaxEdges")
      .map(_.toLong).getOrElse(defaultSmallGraphEdges)

  /** Union-find with MIN-LABEL output over a flat (a0,b0,a1,b1,…) edge
    * array: returns one (node, min reachable id) pair per distinct node —
    * exactly [[connectedComponents]]'s contract, computed driver-side.
    * Path-halving find + union by size; the label pass takes the min id
    * per root, so the output is the same unique fixpoint the distributed
    * loop converges to, independent of edge order.
    */
  private[ext] def unionFindMinLabels(pairs: Array[Long]): Array[(Long, Long)] = {
    val idx = new java.util.HashMap[java.lang.Long, Integer](
      math.min(Int.MaxValue.toLong, pairs.length * 2L + 16L).toInt)
    val ids = new scala.collection.mutable.ArrayBuffer[Long]
    def intern(x: Long): Int = {
      val got = idx.get(x)
      if (got != null) got.intValue()
      else { val i = ids.length; idx.put(x, i); ids += x; i }
    }
    val parent = new scala.collection.mutable.ArrayBuffer[Int]
    val size = new scala.collection.mutable.ArrayBuffer[Int]
    def find(i0: Int): Int = {
      var i = i0
      while (parent(i) != i) { parent(i) = parent(parent(i)); i = parent(i) }
      i
    }
    var k = 0
    while (k + 1 < pairs.length) {
      val ia = intern(pairs(k))
      val ib = intern(pairs(k + 1))
      while (parent.length < ids.length) { parent += parent.length; size += 1 }
      val ra = find(ia)
      val rb = find(ib)
      if (ra != rb) {
        if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
        else { parent(ra) = rb; size(rb) += size(ra) }
      }
      k += 2
    }
    val n = ids.length
    val minLabel = Array.fill(n)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val r = find(i)
      if (ids(i) < minLabel(r)) minLabel(r) = ids(i)
      i += 1
    }
    val out = new Array[(Long, Long)](n)
    i = 0
    while (i < n) { out(i) = (ids(i), minLabel(find(i))); i += 1 }
    out
  }

  /** Dedup by clustering: keep exactly one representative (min id) per
    * connected component of the pair graph; docs with no pairs pass
    * through. The semantics `DataPrep.dropNearDups`' pairwise rule
    * approximates — this form is exact under transitivity chains.
    */
  def keepRepresentatives(docs: DataFrame, edges: DataFrame,
                          idCol: String = "doc_id"): DataFrame = {
    val drop = connectedComponents(edges)
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Cluster decisions with a QUALITY rule: per component, keep the doc
    * maximizing (`score` desc, id asc) — the production choice when dedup
    * runs after quality scoring (keep the best copy, not the lowest id; a
    * min-id rule happily keeps the one truncated or boilerplate-ridden
    * member of a cluster). Docs absent from `labels` are their own
    * singleton component and survive by definition.
    *
    * One row PER COMPONENT: (component, kept_id, csize, best_score) — the
    * dedup ledger a deployment joins back to the corpus (`left_semi` on
    * kept_id) to materialize the survivors.
    *
    * Scale shape: the only shuffle is the component-keyed aggregation, and
    * the argmax is a `min(struct(-score, id))` — a partially-aggregatable
    * scalar, so a mega-cluster's rows combine map-side and the exchange
    * carries one row per (partition, component). Never a window over the
    * component key.
    */
  def keepBestInCluster(docs: DataFrame, labels: DataFrame, score: Column,
                        idCol: String = "doc_id"): DataFrame = {
    requireIntegralIds("keepBestInCluster", docs, Seq(idCol))
    val labeled = docs
      .join(labels.withColumnRenamed("doc_id", idCol), Seq(idCol), "left")
      .select(
        coalesce(col("component"), col(idCol).cast("long")).as("component"),
        col(idCol).cast("long").as("id"),
        score.cast("double").as("s"))
    labeled.groupBy(col("component"))
      .agg(
        // NULL scores must LOSE the argmax, not win it: Spark's struct
        // ordering sorts a NULL first field before every value, so a raw
        // min(struct(-s, id)) would crown the unscorable copy. Coalescing
        // the sort key to +∞ sends nulls last (matching the oracle's
        // ORDER BY score DESC NULLS LAST); best_score still aggregates the
        // raw column, so an all-null cluster reports NULL, not a sentinel.
        min(struct(coalesce(-col("s"), lit(Double.PositiveInfinity)).as("ns"),
          col("id"))).as("w"),
        count(lit(1)).as("csize"),
        max(col("s")).as("best_score"))
      .select(col("component"), col("w.id").as("kept_id"),
        col("csize"), col("best_score"))
  }

  /** [[keepBestInCluster]] applied: the surviving documents themselves. */
  def keepBest(docs: DataFrame, edges: DataFrame, score: Column,
               idCol: String = "doc_id"): DataFrame =
    docs.join(
      keepBestInCluster(docs, connectedComponents(edges), score, idCol)
        .select(col("kept_id").as(idCol)),
      Seq(idCol), "left_semi")
}
