package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Staging, Tables}

/** The rollup's log-bucketed histogram column (q183_rollup_percentiles):
  * percentiles served from stored bucket-count partials must (a) land
  * within the bucket relative error (√1.05 − 1 ≈ 2.47%) of the exact
  * nearest-rank percentile over the raw events, and (b) be EXACTLY
  * invariant under compaction — bucket counts add, so folding partials
  * must not move any estimate by even an ulp (stronger than the HLL
  * pin, which only bounds drift). */
class RollupPctlSpec extends GraftSuite {

  private def drained(): String = {
    val events = Tables(spark, sf, "events")
    val src = Staging.scratchDir("graft_pctl_src")
    (0 to 2).foreach(i =>
      Streams.writeOrderedFile(events.filter(col("event_id") % 3 === i), src, i))
    val out = Staging.scratchDir("graft_pctl_out")
    Streams.rollupDrain(spark, src, out)
    out
  }

  private def pcts(out: String): Map[(String, String), (Double, Double, Double)] =
    Streams.rollupPercentiles(spark, out).collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) ->
        (r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap

  test("histogram percentiles within bucket error of exact nearest-rank") {
    val out = drained()
    val approx = pcts(out)
    val raw = Tables(spark, sf, "events")
      .select(date_trunc("day", col("ts")).cast("date").as("day"),
              col("event_type"), col("value"))
      .collect()
      .groupBy(r => (r.getDate(0).toString, r.getString(1)))
      .view.mapValues(_.map(_.getDouble(2)).sorted).toMap
    assert(approx.keySet == raw.keySet, "rollup must cover every bucket")
    val tol = Streams.ValueHist.relErr
    raw.foreach { case (k, vs) =>
      val (p50, p90, p99) = approx(k)
      Seq(0.5 -> p50, 0.9 -> p90, 0.99 -> p99).foreach { case (q, got) =>
        val exact = vs(math.ceil(q * vs.length).toInt - 1)
        assert(math.abs(got - exact) <= tol * math.abs(exact) + 1e-9,
          s"bucket $k q=$q: est $got vs exact $exact exceeds ${tol * 100}%% error")
      }
    }
  }

  test("estimates are exactly invariant under compaction (counts add)") {
    val out = drained()
    val before = pcts(out)
    Streams.rollupCompact(spark, out, Long.MaxValue)
    val after = pcts(out)
    assert(after == before,
      "compacting histogram partials must not move any percentile estimate")
  }
}
