package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

class BuildSpec extends SparkSpec {

  test("compute runs once per (app, dir); a second dir computes again") {
    var runs = 0
    val b = Build("spec_once") { (_, dir) => runs += 1; dir.length }
    assert(b(spark, "a") == 1 && b(spark, "a") == 1)
    assert(runs == 1)
    assert(b(spark, "bb") == 2)
    assert(runs == 2)
  }

  test("rebuild releases the evicted frames once, keeps dependencies, recomputes") {
    var depRuns = 0
    var topRuns = 0
    var releases = 0
    var cachedAtCompute = Seq.empty[Boolean]
    val dep = Build[DataFrame]("spec_dep", Seq(_)) { (s, _) =>
      depRuns += 1
      val df = s.range(10).toDF("id").persist()
      df.count()
      df
    }
    val top = Build[DataFrame]("spec_top", df => { releases += 1; Seq(df) }) { (s, dir) =>
      topRuns += 1
      val df = dep(s, dir).selectExpr("id * 2 AS v")
      cachedAtCompute :+= (df.storageLevel != StorageLevel.NONE)
      df.persist()
      df.count()
      df
    }
    val first = top(spark, "d")
    top.rebuild(spark, "d")
    assert(releases == 1)
    assert(topRuns == 2 && depRuns == 1)
    // the old frame was unpersisted BEFORE the recompute, so the rebuilt
    // plan could not re-attach to its cached blocks
    assert(cachedAtCompute == Seq(false, false))
    val second = top(spark, "d")
    assert(second ne first)
    assert(second.storageLevel != StorageLevel.NONE)
    assert(dep(spark, "d").storageLevel != StorageLevel.NONE)
    assert(topRuns == 2 && depRuns == 1 && releases == 1)
    Seq(second, dep(spark, "d")).foreach(_.unpersist(blocking = true))
  }

  test("sole is the value for exactly one entry, None for zero or two") {
    val b = Build("spec_sole") { (_, dir) => dir }
    assert(b.sole.isEmpty)
    b(spark, "a")
    assert(b.sole.contains("a"))
    b(spark, "b")
    assert(b.sole.isEmpty)
  }

  test("a duplicate build name throws and keeps the first registration") {
    val first = Build("spec_dup") { (_, _) => 1 }
    val e = intercept[IllegalArgumentException] {
      Build("spec_dup") { (_, _) => 2 }
    }
    assert(e.getMessage.contains("spec_dup"))
    assert(Build.get("spec_dup").contains(first))
  }

  test("nested builds record EXCLUSIVE time; total ~= outer wall clock") {
    val inner = Build("spec_inner") { (_, _) => Thread.sleep(40) }
    val outer = Build("spec_outer") { (s, dir) =>
      Thread.sleep(30)
      inner(s, dir)
      Thread.sleep(10)
    }
    val total0 = Build.total
    outer(spark, "d")
    val innerSecs = Build.times("spec_inner")
    val outerSecs = Build.times("spec_outer")
    assert(innerSecs >= 0.035, s"inner=$innerSecs")
    // outer's recorded time excludes the nested 40ms — double counting
    // would put it at ~80ms+
    assert(outerSecs >= 0.035 && outerSecs <= 0.075, s"outer=$outerSecs")
    val total = Build.total - total0
    assert(total >= 0.075 && total <= 0.15, s"total=$total")
  }
}
