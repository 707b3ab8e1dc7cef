package graft.streaming

import graft.GraftSuite
import graft.core.Staging

/** q274's gate collects its four KN tables to the driver only while their
  * files fit the session's broadcast threshold; above it the gate reads
  * the materialized tables. Both paths must give the same verdicts. */
class FunnelGateBoundSpec extends GraftSuite {

  test("KN tables above the broadcast threshold: materialized fallback, same verdicts") {
    def verdicts(): Seq[String] = {
      val out = Staging.scratchDir("graft_gatebound_out")
      Streams.funnelGateDrain(spark, sf, out)
      spark.read.parquet(out).collect().map(_.toSeq.mkString("|")).toSeq.sorted
    }
    val local = verdicts()
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1")   // every table's files exceed one byte
    val fallback = try verdicts() finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(spark.conf.getOption(key) == prev)
    assert(local.nonEmpty)
    assert(fallback == local)
  }
}
