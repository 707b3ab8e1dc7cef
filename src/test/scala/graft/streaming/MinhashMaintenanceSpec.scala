package graft.streaming

import graft.GraftSuite
import graft.core.Staging
import graft.text.TokenIndex

/** q263's claim: the incrementally-maintained MinHash signature table IS
  * the staged batch artifact — the q61 LSH candidate join, the q90_lsh
  * clustering and the q231-style banding are therefore serveable from
  * the streaming write path with no semantic drift. Two pins (the
  * VectorIndexMaintenanceSpec contract applied to the signature tier):
  *  - maintained == batch-built row-for-row (same docs, same 64 mins —
  *    a doc's shingles are complete inside its own arrival batch, so
  *    the per-batch fold must equal the corpus-wide fold exactly);
  *  - full replay into the same index dir changes nothing (the
  *    lost-checkpoint worst case; per-batch partition overwrite is the
  *    idempotence mechanism, as RollupReplaySpec pins for q183). */
class MinhashMaintenanceSpec extends GraftSuite {

  // sorted MULTISET, not a Set: a replay that duplicated a doc's row
  // into a second batch partition would collapse invisibly under a Set
  // compare while double-counting in the serving read
  private def sigRows(out: String): Seq[String] =
    spark.read.parquet(out)
      .select("doc_id", (0 until 64).map(i => s"h$i"): _*)
      .collect().map(_.toSeq.mkString(",")).toSeq.sorted

  test("maintained signatures equal the batch-built artifact; replay is idempotent") {
    val src = Streams.stageQ158(spark, sf)
    val out = Staging.scratchDir("graft_mhidx_spec_out")
    Streams.minhashDrain(spark, src, out)

    val maintained = sigRows(out)
    val batchBuilt = TokenIndex.minhashSigs(spark, sf)
      .select("doc_id", (0 until 64).map(i => s"h$i"): _*)
      .collect().map(_.toSeq.mkString(",")).toSeq.sorted
    assert(maintained.nonEmpty)
    assert(maintained == batchBuilt,
      s"incremental vs batch drift: ${(maintained diff batchBuilt).take(3)} / " +
        s"${(batchBuilt diff maintained).take(3)}")

    // three genuinely incremental batches, one partition each
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("batch=0", "batch=1", "batch=2"))

    Streams.minhashDrain(spark, src, out) // fresh checkpoint, same out dir
    assert(sigRows(out) == maintained, "replay must overwrite, never duplicate")
  }
}
