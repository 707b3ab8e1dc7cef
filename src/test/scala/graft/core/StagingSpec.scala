package graft.core

import graft.GraftSuite

/** The one materialization policy ([[Staging]]): a materialized frame
  * holds executor blocks until [[Staging.release]] (or a GC once it is
  * unreachable); [[Staging.using]] frees them when its body returns. */
class StagingSpec extends GraftSuite {

  private def pinned: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release frees a materialized frame's blocks; Dataset.unpersist does not") {
    val before = pinned
    val m = Staging.materialize(spark.range(100).toDF("id"))
    assert((pinned -- before).size == 1)
    m.unpersist()
    assert((pinned -- before).size == 1, "a checkpointed frame is not in the CacheManager")
    assert(m.count() == 100)
    Staging.release(m)
    assert((pinned -- before).isEmpty)
    // a frame that is not itself materialized is left alone
    val base = Staging.materialize(spark.range(10).toDF("id"))
    Staging.release(base.select((base("id") + 1).as("id")))
    assert((pinned -- before).size == 1)
    Staging.release(base)
    assert((pinned -- before).isEmpty)
  }

  test("using materializes for its body and frees the blocks at return, also on a throw") {
    val before = pinned
    val n = Staging.using(spark.range(10).toDF("id")) { f =>
      assert((pinned -- before).size == 1)
      f.count()
    }
    assert(n == 10 && (pinned -- before).isEmpty)
    intercept[IllegalStateException] {
      Staging.using(spark.range(10).toDF("id"))(_ => throw new IllegalStateException("body"))
    }
    assert((pinned -- before).isEmpty)
  }
}
