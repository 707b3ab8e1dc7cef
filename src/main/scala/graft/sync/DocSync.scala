package graft.sync

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.types._

import graft.core.Staging
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
  * The fold is one hash aggregation keyed on `rowKey`: each key's events
  * are collected, sorted by `seq` and replayed by a per-key `aggregate`
  * (a Delete resets the doc, a Put `map_concat`s its cells, and the
  * session's pinned `LAST_WIN` map-key dedup makes the later cell win).
  * It runs as partial + final aggregation around ONE shuffle: no per-cell
  * rows, no join, no driver-side state. The price is per-key state: one
  * key's events of ONE input are held as an array — a micro-batch's worth
  * for the streaming sink, the whole log for [[fold]] (q03 at sf0.1: about
  * 500 events per key).
  */
object DocSync {

  private val emptyDoc: Column = typedLit(Map.empty[String, String])

  /** OP-4 flatten + OP-7 fold of a complete change log to the final
    * document table `(rowKey: String, doc: Map[String,String])`: the
    * [[foldIncrement]] of the whole log, keeping the keys with a
    * non-empty doc. Per-key state is the key's whole event history. */
  def fold(changeLog: DataFrame): DataFrame =
    foldIncrement(changeLog).filter(size(col("delta")) > 0)
      .select(col("rowKey"), col("delta").as("doc"))

  /** Fold one micro-batch into a per-key increment:
    * `(rowKey, delta: Map, hadDelete: Boolean)` where `delta` holds the
    * LWW fields written after the batch's last delete (if any). Keys
    * whose events are only cell-less Puts are absent, so they dirty no
    * bucket.
    *
    * Plan shape: one `groupBy(rowKey)` — `array_sort(collect_list(...))`
    * partial-aggregated before its one shuffle — then a map-only
    * `aggregate` replay. Each cell is projected to `(qualifier, value)`
    * inside the collected struct, so the family (dropped by the flatten
    * anyway) never crosses the shuffle. A Delete sorts after a Put of the
    * same `seq` (that Put is dead), and ops other than PUT/DELETE are
    * ignored. */
  def foldIncrement(batch: DataFrame): DataFrame = {
    def state(doc: Column, hadDelete: Column): Column =
      struct(doc.as("doc"), hadDelete.as("hadDelete"))
    val events = batch.filter(col("op").isin("PUT", "DELETE"))
      .groupBy("rowKey")
      .agg(array_sort(collect_list(struct(col("seq"),
        (col("op") === "DELETE").as("isDelete"),
        transform(col("cells"), c => struct(c("qualifier"), c("value"))).as("cells"))))
        .as("events"))
    val replayed = aggregate(col("events"), state(emptyDoc, lit(false)), (acc, e) =>
      when(e("isDelete"), state(emptyDoc, lit(true)))
        .otherwise(state(
          map_concat(acc("doc"), coalesce(map_from_entries(e("cells")), emptyDoc)),
          acc("hadDelete"))))
    events.select(col("rowKey"), replayed.as("s"))
      .select(col("rowKey"), col("s.doc").as("delta"), col("s.hadDelete").as("hadDelete"))
      .filter(size(col("delta")) > 0 || col("hadDelete"))
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
    // the fold feeds both the dirty-bucket collect and the merge:
    // materialize it so it runs once per batch, not twice
    Staging.using(foldIncrement(batch)
        .withColumn("bucket", bucketOf(col("rowKey"), numBuckets))) { inc =>
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
        commit(cur, dirty.toSeq)
      }
    }
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
    commit(cur, 0 until numBuckets)
    versions.foreach { case (_, v) => graft.core.Fs.deleteRecursively(v) }
  }

  /** Write version `dir`'s `_coverage` commit marker (the buckets it
    * covers) as `_coverage.tmp` and rename it into place atomically: a
    * crash mid-write leaves only the `.tmp`, which no reader looks at, so
    * the version stays invisible — never a truncated marker that reads
    * `3,12` as `3,1`, where bucket 1, covered with no dir, would read as
    * emptied. */
  private def commit(dir: String, buckets: Seq[Int]): Unit = {
    val tmp = Paths.get(s"$dir/_coverage.tmp")
    Files.writeString(tmp, buckets.mkString(","))
    Files.move(tmp, Paths.get(s"$dir/_coverage"), StandardCopyOption.ATOMIC_MOVE)
  }

  private val stateSchema = StructType(Seq(StructField("rowKey", StringType),
    StructField("doc", MapType(StringType, StringType))))

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
    // the table's own schema: no footer-inference job per read, and zero
    // paths read as an empty table
    sp.read.schema(stateSchema).parquet(chosen.values.flatten.toSeq.sorted: _*)
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

  /** The DuckDB replay of this fold (FIXTURES.md derived fixture) as
    * suffix-parameterized CTE text over the events satisfying `where`:
    * the one copy every fold oracle builds on (q03/q51/q57, q49, q220,
    * and q227, which replays one fold per table version). Yields
    * `docs<sfx>(row_key, event_type, value, user_id, props)`. */
  private[sync] def foldCtes(sfx: String, where: String): String =
    s"""puts$sfx AS (
      |  SELECT CAST(event_id % 199 AS VARCHAR) AS row_key, event_id AS seq,
      |         event_type,
      |         CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) AS value_s,
      |         CASE WHEN event_id % 3 <> 0 THEN CAST(user_id AS VARCHAR) END AS user_id_s,
      |         props
      |  FROM events WHERE $where),
      |dels$sfx AS (
      |  SELECT CAST((event_id + 25) % 199 AS VARCHAR) AS row_key, event_id AS seq
      |  FROM events WHERE event_id % 50 = 0 AND ($where)),
      |last_del$sfx AS (SELECT row_key, MAX(seq) AS del_seq FROM dels$sfx GROUP BY 1),
      |live$sfx AS (
      |  SELECT p.* FROM puts$sfx p LEFT JOIN last_del$sfx d USING (row_key)
      |  WHERE d.del_seq IS NULL OR p.seq > d.del_seq),
      |docs$sfx AS (
      |  SELECT row_key,
      |    arg_max(event_type, seq) AS event_type,
      |    arg_max(value_s, seq) AS value,
      |    arg_max(user_id_s, seq) FILTER (WHERE user_id_s IS NOT NULL) AS user_id,
      |    arg_max(props, seq) FILTER (WHERE props IS NOT NULL) AS props
      |  FROM live$sfx GROUP BY row_key)""".stripMargin

  /** DuckDB oracle replaying the fold over the whole log (q03/q51/q57). */
  val oracleSqlDocTable: String =
    s"""WITH ${foldCtes("", "TRUE")}
      |SELECT * FROM docs ORDER BY row_key""".stripMargin
}
