package graft.sync

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.model.ChangeLog

/** The heart of the reference pipeline, Spark-first: flatten + merge-upsert.
  *
  * Semantics replicated from the reference (SURVEY.md §1.2):
  *   1. family → qualifier flatten: the column-family name is dropped; the
  *      document is keyed by qualifier only (Observer.java:74-79).
  *   2. last-write-wins per field across Puts (HashMap.put order ≡ our
  *      total `seq` order).
  *   3. upsert is a partial merge: fields absent from a Put survive
  *      (`setDocAsUpsert(true)`, Observer.java:86-87).
  *   4. a Delete removes the whole document (Observer.java:97-108); a later
  *      Put revives it.
  *
  * The fold is expressed relationally (join + max_by aggregation) rather
  * than as a per-key in-memory replay: every step is a shuffle-partitionable
  * DataFrame op, so the same code runs unchanged on a 1000-executor cluster
  * over a 100 TB change log — there is no per-key array materialization and
  * no driver-side state.
  */
object DocSync {

  private val emptyDoc: Column = typedLit(Map.empty[String, String])

  /** OP-4 flatten + OP-7 fold of a complete change log to the final
    * document table `(rowKey: String, doc: Map[String,String])`.
    *
    * Plan shape: one small agg for last-delete seqs, a (broadcastable)
    * left join, one explode, one (rowKey, qualifier) max_by agg, one
    * map_from_entries collect — all map-side-combinable hash aggregates.
    */
  def fold(changeLog: DataFrame): DataFrame = {
    val lastDel = changeLog.filter(col("op") === "DELETE")
      .groupBy("rowKey").agg(max("seq").as("del_seq"))

    val liveCells = changeLog.filter(col("op") === "PUT")
      .join(lastDel, Seq("rowKey"), "left")
      .filter(col("del_seq").isNull || col("seq") > col("del_seq"))
      .select(col("rowKey"), col("seq"), posexplode(col("cells")).as(Seq("pos", "cell")))

    // LWW per (rowKey, qualifier): order by (seq, pos-within-put) — the
    // reference's HashMap.put iteration order made explicit.
    val lww = liveCells
      .groupBy(col("rowKey"), col("cell.qualifier").as("qualifier"))
      .agg(max_by(col("cell.value"), struct(col("seq"), col("pos"))).as("value"))

    lww.groupBy("rowKey")
      .agg(map_from_entries(collect_list(struct(col("qualifier"), col("value")))).as("doc"))
  }

  /** Fold one micro-batch into a per-key increment:
    * `(rowKey, delta: Map, hadDelete: Boolean)` where `delta` holds the
    * LWW fields written after the batch's last delete (if any). */
  def foldIncrement(batch: DataFrame): DataFrame = {
    fold(batch)
      .join(batch.filter(col("op") === "DELETE").select("rowKey").distinct()
              .withColumn("hadDelete", lit(true)),
            Seq("rowKey"), "full")
      .select(col("rowKey"),
              coalesce(col("doc"), emptyDoc).as("delta"),
              coalesce(col("hadDelete"), lit(false)).as("hadDelete"))
  }

  /** OP-7 merge-upsert of a batch increment into the existing doc table.
    * Partial merge: `map_concat(existing, delta)` with LAST_WIN dedup;
    * delete-then-put revival falls out of `hadDelete` discarding the old doc.
    * Deleted keys (empty merged doc) drop out of the table. */
  def merge(state: DataFrame, increment: DataFrame): DataFrame = {
    state.join(increment, Seq("rowKey"), "full")
      .select(col("rowKey"),
        when(col("hadDelete"), col("delta"))
          .otherwise(map_concat(coalesce(col("doc"), emptyDoc),
                                coalesce(col("delta"), emptyDoc))).as("doc"))
      .filter(size(col("doc")) > 0)
  }

  /** Streaming OP-7: run a change-log stream into a parquet-backed doc
    * table via foreachBatch merge (SURVEY.md OP-7/OP-10: checkpointed
    * offsets + idempotent merge ⇒ exactly-once table state).
    *
    * Scale design (the 100 TB posture): the doc table is hash-bucketed by
    * rowKey. Each micro-batch touches only the buckets its keys fall in —
    * it reads the CURRENT state of those buckets (newest version per
    * bucket, pruned read), merges, and writes an immutable version dir
    * `v<n>/bucket=<b>/` (n allocated from the directory) holding just the
    * dirty buckets, plus a tiny `_coverage` commit marker (a bucket the
    * version covers but has no files for is EMPTY — all its docs deleted —
    * not missing). Per-batch I/O is O(changed buckets), not O(table);
    * versions are immutable and uncommitted dirs are invisible, so a
    * crashed batch simply re-runs (content-idempotent merge).
    * Production would MERGE INTO a transactional format; the bucket-pruned
    * merge is the same logic. */
  def runStream(spark: SparkSession, changeStream: DataFrame, stateDir: String,
                checkpointDir: String, numBuckets: Int = 16): DataFrame = {
    // drain mode (graft.core.Drain): the per-batch fold shuffles a
    // micro-batch of change events, so the drain's 8 partitions bound the
    // per-trigger task floor; the production facade (graft.ingest.Ingest)
    // leaves the session setting alone and a deployment sizes it with the
    // batch volume.
    graft.core.Drain.run(changeStream, checkpointDir)(mergeSink(_, stateDir, numBuckets))
    docTable(spark, stateDir, numBuckets)
  }

  /** Non-blocking variant: start the merge-upsert sink under any trigger
    * (production: ProcessingTime — see graft.ingest.Ingest). */
  def startStream(spark: SparkSession, changeStream: DataFrame, stateDir: String,
                  checkpointDir: String, numBuckets: Int,
                  trigger: org.apache.spark.sql.streaming.Trigger)
      : org.apache.spark.sql.streaming.StreamingQuery =
    mergeSink(changeStream.writeStream, stateDir, numBuckets)
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .start()

  /** The merge-upsert sink, shared by the drained and the triggered run. */
  private def mergeSink(w: DataStreamWriter[Row], stateDir: String, numBuckets: Int)
      : DataStreamWriter[Row] =
    w.foreachBatch { (batch: DataFrame, _: Long) =>
      mergeBatch(batch.sparkSession, batch, stateDir, numBuckets)
    }

  /** Merge ONE change-log batch into the versioned table: fold to a
    * per-key increment, read the current state of just the dirty buckets,
    * merge, and commit an immutable `v<n>` with its `_coverage` marker.
    * Shared by the streaming sink and batch/backfill writers (q220). */
  def mergeBatch(sp: SparkSession, batch: DataFrame, stateDir: String,
                 numBuckets: Int): Unit = {
    // the two-shuffle fold feeds both the dirty-bucket collect and the
    // merge: persist so it runs once per batch, not twice
    val inc = foldIncrement(batch)
      .withColumn("bucket", bucketOf(col("rowKey"), numBuckets))
      .persist()
    try {
      val dirty = inc.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted   // bounded: <= numBuckets rows
      if (dirty.nonEmpty) {
        val state = currentState(sp, stateDir, numBuckets,
            onlyBuckets = Some(dirty.toSet))
        val merged = merge(state.drop("bucket"), inc.drop("bucket"))
          .withColumn("bucket", bucketOf(col("rowKey"), numBuckets))
        // version ids are allocated from the DIRECTORY (max live + 1),
        // never from batchId: compaction also allocates from the same
        // sequence, and a batchId-named dir would collide with (and
        // overwrite) a compacted base written after earlier batches.
        // Batch replay after a torn write simply allocates a fresh id;
        // the torn dir has no _coverage so it stays invisible, and the
        // re-applied merge is content-idempotent (LWW of identical
        // values).
        val cur = s"$stateDir/v${nextVersionId(stateDir)}"
        // cluster by bucket before the partitioned write: one file per
        // bucket instead of (shuffle partitions x buckets) shards
        merged.repartition(math.min(numBuckets, dirty.length), col("bucket"))
          .write.mode("overwrite").partitionBy("bucket").parquet(cur)
        Files.writeString(Paths.get(s"$cur/_coverage"), dirty.mkString(","))
      }
    } finally inc.unpersist()
    ()
  }

  /** The doc table AS OF committed version `asOf` — newest covering
    * version per bucket among `v0..v<asOf>`. Versions are immutable and
    * the file list is resolved HERE, at construction: merges committed
    * after the pin can never leak into this reader. This is the
    * executable backing for the scroll-context disposition (SURVEY §2.2):
    * ES's scroll holds a server-side snapshot over a mutating index; on
    * this engine the snapshot is a pinned version of the merge table. */
  def snapshot(spark: SparkSession, stateDir: String, asOf: Long,
               numBuckets: Int = 16): DataFrame =
    currentState(spark, stateDir, numBuckets, maxVersion = Some(asOf))
      .drop("bucket")

  /** The assembled current doc table `(rowKey, doc)`. */
  def docTable(spark: SparkSession, stateDir: String, numBuckets: Int = 16): DataFrame =
    currentState(spark, stateDir, numBuckets).drop("bucket")

  /** Fold all live versions into one full-coverage base version and drop
    * the history — the LSM-style maintenance job that bounds the version
    * chain `currentState` walks. Safe to run between batches: the new
    * version covers every bucket, so older versions become unreachable
    * before they are deleted. */
  def compact(spark: SparkSession, stateDir: String, numBuckets: Int = 16): Unit = {
    val versions = versionDirs(stateDir)
    if (versions.isEmpty) return
    val cur = s"$stateDir/v${nextVersionId(stateDir)}"
    currentState(spark, stateDir, numBuckets)
      .repartition(numBuckets, col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(cur)
    Files.writeString(Paths.get(s"$cur/_coverage"), (0 until numBuckets).mkString(","))
    versions.foreach { case (_, v) => graft.core.Fs.deleteRecursively(v) }
  }

  private def bucketOf(rowKey: Column, numBuckets: Int): Column =
    pmod(xxhash64(rowKey), lit(numBuckets.toLong)).cast("int")

  /** Every version dir `v<n>` under `stateDir` (committed or torn) with
    * its id, newest first — the one listing the allocator, compaction and
    * the state reader share. */
  private def versionDirs(stateDir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(stateDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .map(f => (f.getName.drop(1).toLong, f))
      .sortBy(-_._1)

  /** Next version id: one past the highest existing dir (committed or
    * torn) — the single allocation path for batches AND compaction. */
  private def nextVersionId(stateDir: String): Long =
    versionDirs(stateDir).headOption.map(_._1 + 1).getOrElse(0L)

  /** Assemble the current doc table: newest covering version per bucket.
    * Reads only the selected `bucket=<b>` dirs (partition-pruned paths);
    * the bucket column is recomputed from rowKey (it is a pure function of
    * the key, so no per-dir bookkeeping is needed). */
  private def currentState(sp: SparkSession, stateDir: String, numBuckets: Int,
                           onlyBuckets: Option[Set[Int]] = None,
                           maxVersion: Option[Long] = None): DataFrame = {
    val versions = versionDirs(stateDir)
      .collect { case (id, v) if maxVersion.forall(id <= _) => v }
    val chosen = scala.collection.mutable.Map.empty[Int, Option[String]]
    versions.foreach { v =>
      // _coverage is the COMMIT MARKER, written only after the parquet
      // write completes: a version without it is a partially-written batch
      // that crashed mid-write and must be invisible (the restarted batch
      // overwrites the dir and re-commits). Never fall back to listing
      // bucket dirs — that would read the torn write.
      val covFile = new java.io.File(v, "_coverage")
      val covered: Seq[Int] =
        if (covFile.exists()) Files.readString(covFile.toPath).split(",").toSeq
          .filter(_.nonEmpty).map(_.toInt)
        else Seq.empty
      covered.filter(b => onlyBuckets.forall(_.contains(b))).foreach { b =>
        if (!chosen.contains(b)) {
          val dir = new java.io.File(v, s"bucket=$b")
          chosen(b) = if (dir.exists()) Some(dir.getPath) else None  // None = emptied
        }
      }
    }
    val paths = chosen.values.flatten.toSeq.sorted
    if (paths.isEmpty)
      sp.createDataFrame(sp.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("rowKey", StringType),
          StructField("doc", MapType(StringType, StringType)),
          StructField("bucket", IntegerType))))
    else
      sp.read.parquet(paths: _*)
        .withColumn("bucket", bucketOf(col("rowKey"), numBuckets))
  }

  /** Final doc table flattened to the fixture's qualifier columns —
    * the hash-checked projection (q03/q51/q57). */
  def flattenDocs(docs: DataFrame): DataFrame =
    docs.select(
      col("rowKey").as("row_key"),
      element_at(col("doc"), "event_type").as("event_type"),
      element_at(col("doc"), "value").as("value"),
      element_at(col("doc"), "user_id").as("user_id"),
      element_at(col("doc"), "props").as("props"))
      .orderBy("row_key")

  /** DuckDB oracle replaying the same fold (FIXTURES.md derived fixture). */
  val oracleSqlDocTable: String =
    """WITH puts AS (
      |  SELECT CAST(event_id % 199 AS VARCHAR) AS row_key, event_id AS seq,
      |         event_type,
      |         CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS value_s,
      |         CASE WHEN event_id % 3 <> 0 THEN CAST(user_id AS VARCHAR) END AS user_id_s,
      |         props
      |  FROM events),
      |dels AS (
      |  SELECT CAST((event_id + 25) % 199 AS VARCHAR) AS row_key, event_id AS seq
      |  FROM events WHERE event_id % 50 = 0),
      |last_del AS (SELECT row_key, MAX(seq) AS del_seq FROM dels GROUP BY 1),
      |live AS (
      |  SELECT p.* FROM puts p LEFT JOIN last_del d USING (row_key)
      |  WHERE d.del_seq IS NULL OR p.seq > d.del_seq)
      |SELECT row_key,
      |  arg_max(event_type, seq) AS event_type,
      |  arg_max(value_s, seq) AS value,
      |  arg_max(user_id_s, seq) FILTER (WHERE user_id_s IS NOT NULL) AS user_id,
      |  arg_max(props, seq) FILTER (WHERE props IS NOT NULL) AS props
      |FROM live GROUP BY row_key ORDER BY row_key""".stripMargin
}
