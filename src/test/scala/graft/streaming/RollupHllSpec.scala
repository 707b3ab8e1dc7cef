package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Staging, Tables}

/** The rollup's mergeable HLL sketch column (q183_rollup_cardinality):
  * distinct-count served from stored sketch partials must (a) track the
  * exact per-bucket cardinality within HLL error, and (b) be invariant
  * under partial-merge order — batch partials unioned at query time and
  * partials folded by compaction are the SAME sketch algebra, so the
  * estimates must not move when compaction rewrites the partitions. The
  * bound is generous vs DataSketches HLL_4 lgK=12 (~1.6% σ; the fixture
  * buckets are sparse-mode, near-exact) so the pin survives fixture
  * rescale without tracking sketch internals. */
class RollupHllSpec extends GraftSuite {

  private def drained(): (String, String) = {
    val events = Tables(spark, sf, "events")
    val src = Staging.scratchDir("graft_hll_src")
    (0 to 2).foreach(i =>
      Streams.writeOrderedFile(events.filter(col("event_id") % 3 === i), src, i))
    val out = Staging.scratchDir("graft_hll_out")
    Streams.rollupDrain(spark, src, out)
    (src, out)
  }

  private def cardinalities(out: String): Map[(String, String), Long] =
    Streams.rollupCardinality(spark, out).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap

  test("merged sketch estimates stay within HLL error of the exact distinct counts") {
    val (_, out) = drained()
    val approx = cardinalities(out)
    val exact = Tables(spark, sf, "events")
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"), col("event_type"))
      .agg(count_distinct(col("user_id")).as("n")).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    assert(approx.keySet == exact.keySet, "rollup must cover every (day, type) bucket")
    exact.foreach { case (k, ex) =>
      val ap = approx(k)
      assert(math.abs(ap - ex).toDouble / ex <= 0.05,
        s"bucket $k: sketch estimate $ap vs exact $ex exceeds 5% relative error")
    }
  }

  test("estimates are invariant under compaction (sketch-union associativity)") {
    val (_, out) = drained()
    val before = cardinalities(out)
    Streams.rollupCompact(spark, out, upTo = 2)
    assert(cardinalities(out) == before, "folding batches 0+1 must not move estimates")
    Streams.rollupCompact(spark, out, upTo = 3)
    assert(cardinalities(out) == before, "full compaction must not move estimates")
  }
}
