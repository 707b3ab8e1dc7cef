package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** Run-to-completion streaming: the one copy of the drain lifecycle every
  * harness stream goes through (the Structured Streaming paper's run-once
  * trigger as a reusable job runner). A drain starts the query under
  * `Trigger.AvailableNow` with its own checkpoint, sizes state partitions,
  * and waits until every staged file is consumed — so the run is
  * deterministic. Production streams keep their own trigger
  * ([[graft.ingest.Ingest]], ProcessingTime) and do not come through here.
  *
  * State-partition sizing: stateful operators create one state store per
  * shuffle partition and commit every store every micro-batch, so the
  * per-batch floor cost is O(partitions) REGARDLESS of state size. The
  * session default (the core count) is a batch-shuffle setting; for these
  * streams it means one store commit per core per batch for kilobytes of
  * state. 8 keeps the floor low at fixture scale while still exercising
  * multi-partition state; a deployment raises it with the key space (it
  * is the same knob, read at first checkpoint creation).
  */
private[graft] object Drain {

  /** File-stream source over a staged parquet dir: schema read from the
    * staged files, one file per micro-batch. Staged files are ordered by
    * modification time, so the batches are deterministic. */
  def fileStream(s: SparkSession, dir: String): DataFrame =
    s.readStream.schema(s.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Drain `stream` into the sink `sink` configures (format, output mode,
    * foreachBatch) and block until it has consumed all available input.
    * Runs on the stream's own session: the shuffle-partition override
    * locks per session, so drains on cloned sessions run in parallel. */
  def run(stream: DataFrame, ckpt: String)
         (sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit =
    GraftSession.withShufflePartitions(stream.sparkSession, 8) {
      sink(stream.writeStream).trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt).start().awaitTermination()
    }

  /** Drain into a parquet file sink at `out` (Spark's exactly-once append:
    * offsets and the sink's file manifest commit together). */
  def toFiles(stream: DataFrame, ckpt: String, out: String): Unit =
    run(stream, ckpt)(_.format("parquet").option("path", out))

  /** Drain into per-batch partitions: each micro-batch's `perBatch` frame
    * overwrites `out/batch=<id>`. A replayed batch rewrites only its own
    * partition, so the sink is idempotent without cross-batch state. */
  def toBatchDirs(stream: DataFrame, ckpt: String, out: String)
                 (perBatch: DataFrame => DataFrame): Unit =
    run(stream, ckpt)(_.foreachBatch { (batch: DataFrame, id: Long) =>
      perBatch(batch).write.mode("overwrite").parquet(s"$out/batch=$id")
      ()
    })

  /** The ids of the `batch=<id>` partitions under `out`, ascending. */
  def batchIds(out: String): Seq[Long] =
    Option(new java.io.File(out).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=").toLong).sorted
}
