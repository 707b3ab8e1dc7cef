package graft.streaming

import graft.GraftSuite
import graft.core.Staging
import graft.vector.VectorIndex

/** q271's claim: the incrementally-maintained PQ-codes table IS the staged
  * batch artifact — every ADC consumer (q62_ann_pq / q62_ann_ivf_pq reads
  * VectorIndex.pq's codes) is therefore serveable from the streaming write
  * path with no semantic drift. The two q195 pins, on the codes table:
  *  - maintained == batch-encoded row-for-row (same vectors, same norms,
  *    same sub-codes — deterministic assignment against the same frozen
  *    codebook);
  *  - full replay into the same dir changes nothing (per-batch partition
  *    overwrite is the idempotence mechanism, as RollupReplaySpec pins).
  */
class PqCodeMaintenanceSpec extends GraftSuite {

  private def codes(out: String): Set[String] =
    spark.read.parquet(out).select("vec_id", "nrm", "sub", "code")
      .collect().map(_.toSeq.mkString(",")).toSet

  test("maintained PQ codes equal the batch-encoded artifact; replay is idempotent") {
    val src = Streams.stageQ195(spark, sf)
    val out = Staging.scratchDir("graft_pqcode_spec_out")
    Streams.pqCodeDrain(spark, sf, src, out)

    val maintained = codes(out)
    val batchBuilt = VectorIndex.pq(spark, sf)._2.select("vec_id", "nrm", "sub", "code")
      .collect().map(_.toSeq.mkString(",")).toSet
    assert(maintained.nonEmpty)
    assert(maintained == batchBuilt,
      s"incremental vs batch drift: ${(maintained diff batchBuilt).take(5)} / " +
        s"${(batchBuilt diff maintained).take(5)}")

    // three genuinely incremental batches, one partition each
    val parts = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(parts.toSeq == Seq("batch=0", "batch=1", "batch=2"))

    Streams.pqCodeDrain(spark, sf, src, out) // fresh checkpoint, same out dir
    assert(codes(out) == maintained, "replay must overwrite, never duplicate")
  }
}
