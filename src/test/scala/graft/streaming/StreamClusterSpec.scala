package graft.streaming

import graft.GraftSuite
import graft.core.Staging

/** q275 — the incremental-dedup serving path: clusters read off the
  * stream-maintained pair store must equal q90's at-rest clustering
  * frame-for-frame (the two entries also share one oracle text, so the
  * sf0.01 hash gate pins the same equality cross-engine). The store's
  * write path is q142's drain, whose pair law is itself hash-pinned to
  * the q61 derivation — this spec closes the chain at the cluster
  * level, where the composition could still diverge (a lost pair
  * partial would split a component silently).
  */
class StreamClusterSpec extends GraftSuite {

  test("q142 write path: a FRESH 3-wave drain equals the maintained store (r19 #2)") {
    // The timed q142 entry reads the maintained pair store (the serving
    // posture); the drain machinery itself — staged replay, per-batch
    // probe, prune, idempotent batch partitions — is pinned HERE: a
    // fresh drain of the same arrival replay must reproduce the
    // maintained store's merged pair set row-for-row.
    import org.apache.spark.sql.functions.col
    val out = Staging.scratchDir("graft_neardup_fresh")
    try {
      Streams.neardupDrain(spark, sf, out)
      def pairs(dir: String): Seq[(Long, Long, Double)] =
        Streams.neardupMerged(spark, dir)
          .orderBy(col("doc_a"), col("doc_b")).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val fresh = pairs(out)
      val maintained = pairs(Streams.drainedNeardupStore(spark, sf))
      assert(fresh.nonEmpty, "fixture produced no near-dup pairs — vacuous")
      assert(fresh == maintained,
        s"fresh drain diverges from the maintained store:\n  fresh $fresh\n  maintained $maintained")
    } finally graft.core.Fs.deleteRecursively(new java.io.File(out))
    spark.catalog.clearCache()
  }

  test("q275: clusters off the maintained pair store == q90's at-rest clusters") {
    def rows(name: String): Seq[(Long, Long)] =
      graft.SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val atRest = rows("q90_dedup_clusters")
    val served = rows("q275_stream_dedup_clusters")
    assert(atRest.nonEmpty, "fixture produced no clusters — vacuous")
    assert(served == atRest,
      s"served clusters diverge from the at-rest clustering:\n  atRest $atRest\n  served $served")
    spark.catalog.clearCache()
  }
}
