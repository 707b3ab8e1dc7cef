package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.{Staging, Tables}
import graft.ingest.Shards

/** q207's arrival semantics pinned at spec scale: incremental shard
  * arrival under one checkpoint materializes exactly the source corpus
  * (no loss across a restart, no duplicates under a replay drain), and
  * late shards only APPEND — previously-materialized samples are never
  * rewritten (the per-batch work is O(arrived shards), the property the
  * 100 TB posture claims). */
class StreamShardIngestSpec extends GraftSuite {

  test("shard stream: restart resumes, replay adds nothing, corpus is byte-exact") {
    import spark.implicits._
    val docs = Tables(spark, sf, "documents")
    val nDocs = docs.count()

    val src = Staging.scratchDir("graft_shardspec_src")
    val out = Staging.scratchDir("graft_shardspec_out")
    val ckpt = Staging.scratchDir("graft_shardspec_ckpt")

    val shards = Shards.shardTable(spark, sf).toDF("shard_id", "bytes").cache()

    // q207's own drain, always under the same checkpoint
    def drain(): Unit = Streams.shardDrain(spark, src, out, ckpt)

    // phase 1: first arrival wave
    Streams.writeOrderedFile(shards.filter(col("shard_id") % 2 === 0), src, 0)
    drain()
    val after1 = spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
    assert(after1.nonEmpty && after1.size < nDocs)
    assert(after1.forall(id => (id / Shards.docsPerShard) % 2 == 0))

    // phase 2 (restart): the rest arrives under the SAME checkpoint
    Streams.writeOrderedFile(shards.filter(col("shard_id") % 2 === 1), src, 1)
    drain()
    val after2 = spark.read.parquet(out)
    assert(after2.count() == nDocs, "every doc materialized exactly once")
    // early-wave samples were appended once and never rewritten
    assert(after2.filter(col("doc_id").isin(after1.toSeq.take(5): _*)).count() == 5)

    // phase 3: replay drain with no new data — zero duplicates
    drain()
    assert(spark.read.parquet(out).count() == nDocs, "replay must add nothing")

    // byte-exactness: md5 of every extracted payload equals the source
    val got = spark.read.parquet(out)
      .select(col("doc_id"), md5(col("txt_bytes")).as("m"))
    val want = docs.select(col("doc_id"), md5(encode(col("text"), "UTF-8")).as("m"))
    assert(got.except(want).isEmpty && want.except(got).isEmpty)
    shards.unpersist()
  }
}
