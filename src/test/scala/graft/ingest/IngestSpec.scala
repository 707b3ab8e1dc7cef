package graft.ingest

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.GraftSuite
import graft.core.{Staging, Tables}
import graft.model.ChangeLog
import graft.sync.DocSync

/** The OP-14/OP-15 facade end-to-end: typed config, start, graceful stop,
  * and the no-loss contract the reference lacks (its stop() drops up to
  * 10 s of queued events, Observer.java:61-66 — ours resumes from the
  * checkpoint). */
class IngestSpec extends GraftSuite {

  test("facade syncs a change log and matches the batch fold; rate >= envelope") {
    // sf0.01 (10k events): enough volume that the ~4 s fixed streaming
    // startup doesn't mask the actual replay rate
    val events = Tables(spark, sf01, "events")
    val log = ChangeLog.fromEvents(events)
    val src = Staging.scratchDir("graft_ingest_src")
    log.coalesce(1).write.mode("overwrite").parquet(s"$src/files")
    new java.io.File(s"$src/files").listFiles()
      .filter(_.getName.endsWith(".parquet")).zipWithIndex
      .foreach { case (f, i) =>
        Files.move(f.toPath, java.nio.file.Paths.get(s"$src/part-$i.parquet")) }

    val cfg = Ingest.SyncConfig(
      sourceDir = src,
      stateDir = Staging.scratchDir("graft_ingest_state"),
      checkpointDir = Staging.scratchDir("graft_ingest_ckpt"),
      trigger = Trigger.AvailableNow())   // test trigger; prod default is 10 s

    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = Ingest.progressListener(progress.add(_))
    spark.streams.addListener(listener)
    try {
      val q = Ingest.start(spark, cfg)
      q.awaitTermination()
      val got = DocSync.flattenDocs(Ingest.docTable(spark, cfg)).collect().toSeq
      val want = DocSync.flattenDocs(DocSync.fold(log)).collect().toSeq
      assert(got === want)

      // the listener bus is async: wait for the data batch's progress event
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      def rates() = progress.toArray(Array.empty[String])
        .flatMap(_.split(" ").find(_.startsWith("rows/s=")))
        .map(_.stripPrefix("rows/s=").toDouble)
      while (rates().isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val rs = rates()
      assert(rs.nonEmpty, s"listener saw no progress: ${progress.toArray.mkString("|")}")
      // reference envelope: ~1000 docs/s per RegionServer (BulkOp.java:30,41).
      // Steady-state per-batch rate from the listener, not wall-clock incl.
      // query startup — that's the number comparable to the envelope.
      assert(rs.max >= 1000, s"replay rate ${rs.max} ev/s below the 1000 ev/s envelope")
    } finally spark.streams.removeListener(listener)
  }

  test("source seam: a memory-stream source runs the identical pipeline and oracle") {
    // Proves the "any change-log source drops in here" claim (the
    // reference is pinned to the coprocessor hook; our pipeline is
    // source-agnostic): the SAME flatten+merge+doc-table path fed by a
    // MemoryStream must reproduce the batch-fold oracle that the
    // file-source test above pins.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val log = ChangeLog.fromEvents(Tables(spark, sf, "events"))
    val ms = MemoryStream[ChangeLog.ChangeEvent]
    ms.addData(log.as[ChangeLog.ChangeEvent].collect().toIndexedSeq)

    val cfg = Ingest.SyncConfig(
      sourceDir = "<memory>",   // unused by startFrom — the seam replaces it
      stateDir = Staging.scratchDir("graft_mem_state"),
      checkpointDir = Staging.scratchDir("graft_mem_ckpt"),
      trigger = Trigger.AvailableNow())

    val q = Ingest.startFrom(spark, ms.toDF(), cfg)
    q.awaitTermination()
    val got = DocSync.flattenDocs(Ingest.docTable(spark, cfg)).collect().toSeq
    val want = DocSync.flattenDocs(DocSync.fold(log)).collect().toSeq
    assert(got === want)
  }

  test("source seam: JSON wire format (the Kafka value shape) decodes to the same oracle") {
    // A Kafka source is readStream.format("kafka") + value-cast + this
    // exact from_json decode; no broker exists in this container, so the
    // wire PATH (JSON value -> canonical columns -> pipeline -> doc table)
    // is pinned through a memory stream of encoded values.
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val log = ChangeLog.fromEvents(Tables(spark, sf, "events"))
    val encoded = ChangeLog.toJsonValues(log).as[String].collect()

    // the wire round-trip must be LOSSLESS, including sub-millisecond ts
    // digits (Spark's default to_json format truncates to millis — the
    // pinned wireTimestampFormat exists exactly for this)
    val decoded = ChangeLog.fromJsonValues(
      encoded.toIndexedSeq.toDF("value")).collect().toSeq
    assert(decoded.toSet === log.collect().toSet, "decode(encode(log)) != log")

    val ms = MemoryStream[String]
    ms.addData(encoded.toIndexedSeq)

    val cfg = Ingest.SyncConfig(
      sourceDir = "<kafka-wire>",
      stateDir = Staging.scratchDir("graft_json_state"),
      checkpointDir = Staging.scratchDir("graft_json_ckpt"),
      trigger = Trigger.AvailableNow())

    val q = Ingest.startFrom(spark,
      ChangeLog.fromJsonValues(ms.toDF().select(col("value"))), cfg)
    q.awaitTermination()
    val got = DocSync.flattenDocs(Ingest.docTable(spark, cfg)).collect().toSeq
    val want = DocSync.flattenDocs(DocSync.fold(log)).collect().toSeq
    assert(got === want)
  }

  test("graceful stop loses nothing: restart drains the remainder") {
    import spark.implicits._
    import graft.model.ChangeLog.{Cell, ChangeEvent}
    def ev(key: String, seq: Long, v: String) =
      ChangeEvent("PUT", key, seq, new java.sql.Timestamp(0), Seq(Cell("f", "q", v)))

    val src = Staging.scratchDir("graft_stop_src")
    def addFile(i: Int, evs: Seq[ChangeEvent]): Unit = {
      spark.createDataset(evs).toDF().coalesce(1).write.parquet(s"$src/b$i")
      new java.io.File(s"$src/b$i").listFiles().filter(_.getName.endsWith(".parquet"))
        .foreach(f => Files.move(f.toPath,
          java.nio.file.Paths.get(s"$src/part-$i.parquet")))
    }
    addFile(0, Seq(ev("a", 0, "1")))
    addFile(1, Seq(ev("b", 1, "2")))

    val cfg = Ingest.SyncConfig(
      sourceDir = src,
      stateDir = Staging.scratchDir("graft_stop_state"),
      checkpointDir = Staging.scratchDir("graft_stop_ckpt"),
      trigger = Trigger.AvailableNow())

    // first run drains both files; stopGracefully after termination is a no-op
    val q1 = Ingest.start(spark, cfg)
    q1.awaitTermination()
    Ingest.stopGracefully(q1)

    // new data after the stop: a restart picks up ONLY the new file
    addFile(2, Seq(ev("a", 2, "updated")))
    val q2 = Ingest.start(spark, cfg)
    q2.awaitTermination()

    val m = Ingest.docTable(spark, cfg).collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1)("q")).toMap
    assert(m === Map("a" -> "updated", "b" -> "2"))
  }
}
