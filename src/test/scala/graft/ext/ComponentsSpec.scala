package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("transitive chain collapses to one component labeled by its min id") {
    // 1-2, 2-3, 3-4 (diameter 3, no direct 1-4 edge) + separate pair 10-11
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L)))
  }

  test("star graph and isolated pairs; nodes without edges are absent") {
    val edges = Seq((5L, 1L), (5L, 2L), (5L, 3L)).toDF("doc_a", "doc_b")
    val got = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === Seq((1L, 1L), (2L, 1L), (3L, 1L), (5L, 1L)))
  }

  test("keepRepresentatives: one survivor per cluster, pairless docs pass through") {
    val docs = Seq(1L, 2L, 3L, 4L, 9L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = Components.keepRepresentatives(docs, edges)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 4L, 9L)) // 2,3 collapse into 1's cluster
  }

  test("keepBestInCluster: quality argmax per cluster, id tiebreak, singletons survive") {
    // cluster {1,2,3}: scores 1,5,5 → kept 2 (best score, lower id);
    // cluster {10,11}: scores 0,2 → kept 11 (min-id rule would keep 10);
    // 9 is pairless → its own component, kept regardless of score
    val docs = Seq((1L, 1), (2L, 5), (3L, 5), (9L, 0), (10L, 0), (11L, 2))
      .toDF("doc_id", "q")
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ledger = Components.keepBestInCluster(
        docs, Components.connectedComponents(edges), col("q"))
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(ledger === Seq((1L, 2L, 3L, 5.0), (9L, 9L, 1L, 0.0), (10L, 11L, 2L, 2.0)))
    val kept = Components.keepBest(docs, edges, col("q"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(2L, 9L, 11L))
  }

  test("keepBestInCluster: a NULL score loses to any scored member, never wins") {
    val docs = Seq((1L, Option.empty[Int]), (2L, Option(3)), (10L, Option.empty[Int]),
      (11L, Option.empty[Int])).toDF("doc_id", "q")
    val edges = Seq((1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ledger = Components.keepBestInCluster(
        docs, Components.connectedComponents(edges), col("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(_._1).toSeq
    // cluster {1(null), 2(3)}: the scored doc wins; all-null cluster
    // {10, 11}: lowest id, best_score NULL (not a sentinel)
    assert(ledger === Seq((1L, 2L, Some(3.0)), (10L, 10L, None)))
  }

  test("keepBestInCluster plans a partial aggregation, not a window over the cluster key") {
    val docs = Seq((1L, 1), (2L, 5)).toDF("doc_id", "q")
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "component")
    val plan = Components.keepBestInCluster(docs, labels, col("q"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial"), plan) // map-side combine below the exchange
  }

  test("chain longer than maxIter rounds fails loudly instead of mislabeling") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = cached
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, maxIter = 2)
    }
    assert(cached === before, "the failed loop left checkpoints behind")
  }

  test("non-integral id columns are rejected, not silently nulled") {
    val edges = Seq(("a", "b")).toDF("doc_a", "doc_b")
    intercept[IllegalArgumentException] {
      Components.connectedComponents(edges)
    }
  }

  test("star contraction solves a path deeper than propagation's round budget") {
    // path 1-2-...-40: diameter 39. Propagation at maxIter=6 must refuse;
    // star contraction converges inside its O(log n) budget and labels the
    // whole chain with the min id.
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    intercept[IllegalStateException] {
      Components.connectedComponents(chain, maxIter = 6)
    }
    val got = Components.connectedComponentsStar(chain, maxIter = 10)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got === (1L to 40L).map(i => (i, 1L)))
    val before = cached
    intercept[IllegalStateException] {
      Components.connectedComponentsStar(chain, maxIter = 1)
    }
    assert(cached === before, "the failed loop left checkpoints behind")
  }

  test("star contraction matches propagation on chain/star/disjoint shapes") {
    for (edges <- Seq(
      Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L)),
      Seq((5L, 1L), (5L, 2L), (5L, 3L)),
      Seq((7L, 8L)))) {
      val df = edges.toDF("doc_a", "doc_b")
      val prop = Components.connectedComponents(df).as[(Long, Long)].collect().sorted.toSeq
      val star = Components.connectedComponentsStar(df).as[(Long, Long)].collect().sorted.toSeq
      assert(star === prop, s"mismatch on $edges")
    }
  }

  test("self-loop-only nodes label themselves in both algorithms") {
    val edges = Seq((5L, 5L), (1L, 2L)).toDF("doc_a", "doc_b")
    val prop = Components.connectedComponents(edges).as[(Long, Long)].collect().sorted.toSeq
    val star = Components.connectedComponentsStar(edges).as[(Long, Long)].collect().sorted.toSeq
    assert(prop === Seq((1L, 1L), (2L, 1L), (5L, 5L)))
    assert(star === prop)
  }

  test("connectedComponentsStar rejects non-integral ids too") {
    intercept[IllegalArgumentException] {
      Components.connectedComponentsStar(Seq(("a", "b")).toDF("doc_a", "doc_b"))
    }
  }

  test("incrementalComponents: batch edges merge, relabel, and create components == recompute") {
    // old graph: {1,2,3} (root 1), {10,11} (root 10); batch brings:
    // 3-10 (merges the two old components), 20-21 (brand-new component),
    // 2-3 (inside an old component — contracts away), 11-22 (new node
    // joins an old component)
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val ledger = Components.connectedComponents(oldEdges)
    val newEdges = Seq((3L, 10L), (20L, 21L), (2L, 3L), (11L, 22L)).toDF("doc_a", "doc_b")
    val got = Components.incrementalComponents(ledger, newEdges)
      .as[(Long, Long)].collect().toMap
    val full = Components.connectedComponents(
      oldEdges.union(newEdges)).as[(Long, Long)].collect().toMap
    assert(got === full)
    assert(got(11L) === 1L && got(22L) === 1L && got(20L) === 20L)
  }

  test("incrementalComponents: all-contracted batch leaves the ledger unchanged") {
    val oldEdges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val ledger = Components.connectedComponents(oldEdges)
    val newEdges = Seq((1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b") // all intra-component
    val got = Components.incrementalComponents(ledger, newEdges)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("incrementalComponents == recompute on random edge splits (sampled property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = Gen.listOfN(16,
      Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
      .map(_.filter { case (a, b) => a != b }.distinct)
      .suchThat(_.size >= 2)
    val prop = Prop.forAll(edgeGen) { es =>
      // split: edges touching an even-id node are "the batch"
      val (newEs, oldEs) = es.partition { case (a, b) => a % 2 == 0 || b % 2 == 0 }
      val full = Components.connectedComponents(es.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      val got =
        if (oldEs.isEmpty || newEs.isEmpty) full // degenerate split: nothing to test
        else Components.incrementalComponents(
          Components.connectedComponents(oldEs.toDF("doc_a", "doc_b")),
          newEs.toDF("doc_a", "doc_b")).as[(Long, Long)].collect().toMap
      Prop(got == full) :| s"got $got want $full (old=$oldEs new=$newEs)"
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }

  test("incrementalComponents: union-find fast path == distributed loop across the bound") {
    // merge + new-component + new-node batch (the shape of the first
    // incremental test); run it THREE ways — bound 0 (fast path disabled:
    // distributed loop unconditionally), bound below the contracted edge
    // count (batch CROSSES the bound: overflow to the loop), and a bound
    // above it (driver union-find) — and pin all three identical. This is
    // the certified-bound contract: the collected size is an exact count,
    // and exceeding it falls back to the loop, never to an OOM.
    val oldEdges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (30L, 31L)).toDF("doc_a", "doc_b")
    val ledger = Components.connectedComponents(oldEdges)
    val newEdges = Seq((3L, 10L), (20L, 21L), (11L, 22L), (31L, 40L), (40L, 41L))
      .toDF("doc_a", "doc_b")
    // contracted graph here: 1-10 style root edges + new nodes — 5 edges
    val byLoop = Components.incrementalComponents(ledger, newEdges,
      smallGraphEdges = 0L).as[(Long, Long)].collect().toMap
    val crossed = Components.incrementalComponents(ledger, newEdges,
      smallGraphEdges = 2L).as[(Long, Long)].collect().toMap // 5 > 2 → loop
    val byUf = Components.incrementalComponents(ledger, newEdges,
      smallGraphEdges = 1000000L).as[(Long, Long)].collect().toMap
    val full = Components.connectedComponents(oldEdges.union(newEdges))
      .as[(Long, Long)].collect().toMap
    assert(byLoop === full)
    assert(crossed === full)
    assert(byUf === full)
  }

  test("unionFindMinLabels: min-reachable labels on chains, stars, and edge order") {
    // chain 5-4-3-2-1, star 10-{11,12}, duplicate + reversed edges
    val pairs = Array[Long](5, 4, 4, 3, 3, 2, 2, 1, 10, 11, 12, 10, 11, 10, 2, 3)
    val got = Components.unionFindMinLabels(pairs).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    assert(Components.unionFindMinLabels(Array.empty[Long]).isEmpty)
  }

  test("connectedComponents == union-find on random edge sets (sampled property)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val edgeGen = Gen.listOfN(14,
      Gen.zip(Gen.chooseNum(0L, 11L), Gen.chooseNum(0L, 11L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    val prop = Prop.forAll(edgeGen) { es =>
      // reference: plain union-find over the same edges
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // min-id canonical labels from union-find (roots are mins by merge rule)
      val want = parent.keys.map(n => n -> find(n)).toMap
      val got = Components.connectedComponents(es.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      val star = Components.connectedComponentsStar(es.toDF("doc_a", "doc_b"))
        .as[(Long, Long)].collect().toMap
      Prop(got == want && star == want) :| s"got $got star $star want $want"
    }
    val result = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(8), prop)
    assert(result.passed, result.status.toString)
  }
}
