package graft.ext

import graft.SparkSpec

/** KCore — fixpoint peel, the bounded-rounds twin, and their equivalence. */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  private def core(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("2-core keeps the triangle, peels the tail; degrees are in-core") {
    // triangle 1-2-3 with a tail 3-4: node 4 (deg 1) peels, the triangle
    // survives with every in-core degree 2 (3's edge to 4 is gone)
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    assert(core(KCore.kCore(edges, k = 2)) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
  }

  test("chain collapses to empty over MULTIPLE rounds (cascade)") {
    // path 1-2-3-4-5 at k=2: ends peel first, the cascade empties the
    // graph — a single-round peel would wrongly keep 2,3,4
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    assert(KCore.kCore(edges, k = 2).isEmpty)
    // one bounded round is NOT enough: 2,3,4 still standing
    assert(core(KCore.kCoreRounds(edges, k = 2, rounds = 1)).keySet === Set(2L, 3L, 4L))
    // three rounds cover the cascade
    assert(KCore.kCoreRounds(edges, k = 2, rounds = 3).isEmpty)
  }

  test("k=1 keeps every node; parallel/reversed edges don't double-count degree") {
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = core(KCore.kCore(edges, k = 1))
    assert(got === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("fixpoint == bounded twin at covering rounds on a random graph") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.toDF("doc_a", "doc_b")
    for (k <- Seq(2, 3, 4)) {
      val fix = core(KCore.kCore(edges, k))
      val bounded = core(KCore.kCoreRounds(edges, k, rounds = 12))
      assert(fix === bounded, s"k=$k")
    }
  }

  test("fails loudly on non-integral ids and on exhausted round budget") {
    intercept[IllegalArgumentException] {
      KCore.kCore(Seq(("a", "b")).toDF("doc_a", "doc_b"), k = 2)
    }
    // a long chain needs ~n/2 cascade rounds; maxIter=2 must throw, not
    // return a partially peeled graph
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val before = cached
    intercept[IllegalArgumentException] {
      KCore.kCore(chain, k = 2, maxIter = 2)
    }
    assert(cached === before, "the failed loop left checkpoints behind")
  }
}
