package graft.streaming

import graft.GraftSuite
import graft.core.Staging
import graft.vector.VectorIndex

/** q195's claim: the incrementally-maintained cell index IS the staged
  * batch artifact — every consumer of VectorIndex.cells (IVF probes,
  * IVF-PQ cut, semantic-dedup blocking) is therefore serveable from the
  * streaming write path with no semantic drift. Two pins:
  *  - maintained == batch-built row-for-row (same vectors, same probe
  *    ranks, same cells — deterministic assignment against the same
  *    staged centroids);
  *  - full replay into the same index dir changes nothing (the
  *    lost-checkpoint worst case; per-batch partition overwrite is the
  *    idempotence mechanism, as RollupReplaySpec pins for q183). */
class VectorIndexMaintenanceSpec extends GraftSuite {

  private def postings(out: String): Set[String] =
    spark.read.parquet(out).select("vec_id", "rk", "cell")
      .collect().map(_.toSeq.mkString(",")).toSet

  test("maintained index equals the batch-built artifact; replay is idempotent") {
    val src = Streams.stageQ195(spark, sf)
    val out = Staging.scratchDir("graft_vecidx_spec_out")
    Streams.vecIndexDrain(spark, sf, src, out)

    val maintained = postings(out)
    val batchBuilt = VectorIndex.cells(spark, sf).select("vec_id", "rk", "cell")
      .collect().map(_.toSeq.mkString(",")).toSet
    assert(maintained.nonEmpty)
    assert(maintained == batchBuilt,
      s"incremental vs batch drift: ${(maintained diff batchBuilt).take(5)} / " +
        s"${(batchBuilt diff maintained).take(5)}")

    // three genuinely incremental batches, one partition each
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("batch=0", "batch=1", "batch=2"))

    Streams.vecIndexDrain(spark, sf, src, out) // fresh checkpoint, same out dir
    assert(postings(out) == maintained, "replay must overwrite, never duplicate")
  }
}
