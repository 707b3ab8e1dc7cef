package graft.streaming

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.Tables

/** Memory-sink drains leave no session state behind: the entry's frame
  * still returns the sink's rows after the drain dropped the sink's
  * `graft_mem_N` view, and a long-lived session (the Ingest facade's
  * shape) gains no memory-sink table per call. */
class MemorySinkSpec extends GraftSuite {

  private def run(name: String) =
    Streams.entries.find(_.name == name).get.fn(spark, sf).collect().toSeq

  test("q52/q59 drains return the sink's rows and drop the graft_mem_* view") {
    val got52 = run("q52_tumbling_window")
    val got59 = run("q59_update_mode")

    // the rows the sinks held: the batch run of the same aggregates
    val events = Tables(spark, sf, "events")
    val want52 = events.groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("ws"), col("n")).orderBy(col("ws"))
      .collect().toSeq
    val want59 = events.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type")).collect().toSeq
    assert(got52.nonEmpty && got52 == want52)
    assert(got59.nonEmpty && got59 == want59)

    val memTables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_mem_"))
    assert(memTables.isEmpty, s"memory-sink views left in the session: ${memTables.mkString(",")}")
  }
}
