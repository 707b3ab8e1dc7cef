package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.{Drain, Staging, Tables}
import graft.model.ChangeLog
import graft.queries.Entry
import graft.sync.DocSync

/** Structured Streaming surface — SURVEY.md Q51-Q59.
  *
  * Correctness contract is stream-batch equivalence (the prefix-consistency
  * property of the Structured Streaming paper): each query runs a REAL
  * streaming query (staged file source, memory / file / foreachBatch sink)
  * and is hash-checked against a DuckDB batch oracle over the same rows.
  * Every such query runs to completion through [[graft.core.Drain]], the
  * one drain lifecycle (AvailableNow trigger, checkpoint, state-partition
  * sizing); every stage, checkpoint and sink dir is a
  * [[graft.core.Staging.scratchDir]]. The reference's micro-batcher (size
  * trigger 10000 / time trigger 10 s, ElasticsearchBulkOperator.java:30-41)
  * maps onto source rate options + `Trigger.ProcessingTime` in production
  * ([[graft.ingest.Ingest]]).
  */
object Streams {

  private val nameCounter = new AtomicInteger(0)

  /** Write one DataFrame as the i-th ordered file of a staged stream dir.
    * Rewriting through Spark (not a raw file copy) normalizes the driver's
    * TIMESTAMP(NANOS) parquet to micros, which the streaming file source
    * requires. Modification times order the files => deterministic batches
    * under maxFilesPerTrigger=1. */
  private[streaming] def writeOrderedFile(df: DataFrame, tmp: String, i: Int): Unit = {
    val sub = s"$tmp/stage$i"
    df.coalesce(1).write.mode("overwrite").parquet(sub)
    val f = new java.io.File(sub).listFiles().filter(_.getName.endsWith(".parquet")).head
    val dst = Paths.get(s"$tmp/part-$i.parquet")
    Files.move(f.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toFile.setLastModified(1700000000000L + i * 60000L)
    graft.core.Fs.deleteRecursively(new java.io.File(sub))
  }

  /** Stage a table into a fresh dir for a file-stream source (optionally
    * as N identical ordered files = N deterministic batches). Memoized per
    * (dir, table, copies) via the shared per-JVM staging cache
    * ([[graft.core.Staging.stagedDir]] — VERDICT r17 #4: one copy of the
    * staged-dir memo): seven of the streaming queries stream the same
    * events table, and staging is a full table rewrite. */
  private def stage(s: SparkSession, dir: String, table: String, copies: Int = 1): String =
    Staging.stagedDir(dir, table, s"stream_x$copies") { tmp =>
      val df = Tables(s, dir, table)
      (0 until copies).foreach(i => writeOrderedFile(df, tmp, i))
    }

  /** Stage a table split into N ordered files by deterministic predicates
    * (file i = rows matching preds(i)) to force N micro-batches. Memoized
    * under the caller-supplied key (predicates are Columns, not hashable)
    * — the split is a deterministic function of (dir, table, key). */
  private def stageSplit(s: SparkSession, dir: String, table: String, key: String,
                         preds: => Seq[org.apache.spark.sql.Column]): String =
    Staging.stagedDir(dir, table, s"split_$key") { tmp =>
      val df = Tables(s, dir, table)
      preds.zipWithIndex.foreach { case (p, i) => writeOrderedFile(df.filter(p), tmp, i) }
    }

  /** q55's three-way split staging (evens, on-time odds, late odds) — shared
    * by the entry and [[prestage]] so the split predicates live in one place.
    * The watermark derivation (a full events scan) sits inside the by-name
    * `preds` argument, so a memoized cache hit pays neither the scan nor the
    * staging — prestage makes the timed q55 entry a pure lookup. */
  private def stageQ55(s: SparkSession, d: String): String =
    stageSplit(s, d, "events", "q55_watermark_3way", {
      val events = Tables(s, d, "events")
      // Extract the watermark scalar as epoch micros (a plain Long), not a
      // java.sql.Timestamp: the JVM-side row type of a timestamp column
      // depends on the reader's TZ inference (Timestamp vs LocalDateTime),
      // and a getTimestamp here cast-crashed two whole bench rounds when
      // the fixture encoding changed. A Long is encoding-proof.
      val wmMicros = events.filter(col("event_id") % 2 === 0)
        .agg(unix_micros(max(col("ts")).cast("timestamp") - expr("INTERVAL 1 HOUR")))
        .collect()(0).getLong(0)
      val even = col("event_id") % 2 === 0
      val windowOpen = (date_trunc("day", col("ts")) + expr("INTERVAL 1 DAY")).cast("timestamp") >
        timestamp_micros(lit(wmMicros))
      Seq(even, !even && windowOpen, !even && !windowOpen)
    })

  /** Deterministic 3-way arrival split of a table on its key column —
    * shared by the incremental entries (q142/q158/q183) and [[prestage]]
    * so each split is defined once and the memoized cache serves both. */
  private def stage3Way(s: SparkSession, d: String, table: String, key: String,
                        idCol: String): String =
    stageSplit(s, d, table, key,
      Seq(col(idCol) % 3 === 0, col(idCol) % 3 === 1, col(idCol) % 3 === 2))

  /** q142's per-batch index probe: the arriving docs' shingles against
    * the cached corpus index, pair partial counts, the provable per-batch
    * Jaccard prune (see the entry's comment). Factored out so
    * PlanShapeSpec can pin the probe's physical shape — the BATCH side is
    * the broadcast build (a micro-batch is small relative to the index at
    * any deployment scale) and the index streams from cache with no
    * corpus-sized exchange. Both endpoints' set sizes RIDE the probe rows
    * (`szn` off the arriving doc's in-row array, `szs` a column of the
    * cached index — [[graft.text.Text.sizedShingles3]]), so the prune
    * gate is pure arithmetic on the aggregated pair row: the per-batch
    * plan is ONE join + one agg, no post-aggregation size joins (the
    * round-15 plan-count fold — per-batch codegen/JIT was the steady
    * entry's dominant cost, not data volume). `szsum` is constant per
    * pair (MIN only collapses the duplicate partial), so the sink carries
    * it and the final exact gate needs no size join either. */
  private[graft] def neardupProbe(batch: DataFrame, shStatic: DataFrame): DataFrame =
    graft.text.Text.sizedShingles3(batch, graft.text.Text.tokens(col("text")), "szn")
      .select(col("doc_id").as("new_id"), col("h").as("hn"), col("szn"))
      .join(shStatic, col("hn") === col("h") && col("new_id") =!= col("doc_id"))
      .groupBy(least(col("new_id"), col("doc_id")).as("doc_a"),
               greatest(col("new_id"), col("doc_id")).as("doc_b"))
      .agg(count(lit(1)).as("inter2"), min(col("szn") + col("szs")).as("szsum"))
      .filter(lit(6) * col("inter2") >= col("szsum"))
      .select(col("doc_a"), col("doc_b"), col("inter2"), col("szsum"))

  /** q261's per-batch benchmark probe: the arriving docs' in-row distinct
    * shingles LEFT-probe the broadcast benchmark set; per-doc overlap
    * permille; gate at q254's constant. A document is complete in its
    * batch, so the per-batch agg IS the final per-doc answer — no
    * cross-batch merge exists. Factored out so PlanShapeSpec can pin the
    * physical shape (benchmark broadcasts; nothing corpus-sized
    * shuffles). */
  private[graft] def decontamProbe(batch: DataFrame, bset: DataFrame): DataFrame =
    graft.text.Text.arrivingShingles(batch.filter(col("doc_id") % 97 =!= 0))
      .join(broadcast(bset), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hits"))
      .withColumn("permille", expr("1000 * n_hits div n_shingles"))
      .filter(col("permille") >= 100)
      .select(col("doc_id"), col("n_shingles"), col("n_hits"), col("permille"))

  /** q142's write path: drain the staged 3-wave arrival feed through the
    * per-batch index probe into batch=<id> partitions under `out`.
    *
    * The static index side is persisted: every micro-batch probes it, and
    * the probe join BROADCASTS the batch-sized arriving side (pinned in
    * PlanShapeSpec), so the cached index streams MAP-ONLY — zero
    * exchanges of corpus-sized data per batch. The previous plan
    * re-shuffled the whole index on h every batch (VERDICT r14 #2).
    * Each row carries its doc's set size (szs) read off the in-row
    * shingle array at build time — map-only from the staged token
    * index, so neither the probe nor the final merge ever joins a
    * separate size table (the round-15 plan-count fold).
    *
    * The Jaccard gate is pushed INTO the batch as a provable prune
    * (VERDICT r14 #2): an arriving doc probes the COMPLETE corpus index,
    * so a pair's per-batch partial inter2 is already its full
    * intersection i (one endpoint arrived this batch) or 2i (both did) —
    * never less. jac is monotone in i and i <= inter2, so keeping
    * exactly the pairs with 6*inter2 >= sa+sb (the cross-multiplied
    * jac(i)>=0.2 gate at the upper bound i := inter2; integer form — the
    * division form hits a 0 denominator when identical docs arrive in
    * one batch and inter2 = 2i = sa+sb) (a) keeps a superset of the true
    * survivors, (b) decides identically for both partials of a
    * split-discovered pair (both carry inter2 = i), so the final merge
    * still sees all-or-none of a pair's partials and its exact gate is
    * unchanged. Sink volume drops from EVERY candidate pair (~1.1M at
    * sf0.1 — at corpus scale, the silent sink-explosion) to the gate's
    * survivors. Each batch owns its own batch=<id> partition: idempotent
    * under replay, the q183 posture. ONE copy shared by the q142 entry
    * (whose subject IS this write path, drained fresh) and the memoized
    * store q275 serves from. */
  private[streaming] def neardupDrain(s: SparkSession, d: String, out: String): Unit = {
    val shStatic = graft.text.Text
      .sizedShingles3(graft.text.TokenIndex.toks(s, d), col("ws"), "szs")
      .persist()   // (doc_id, szs, h)
    Drain.toBatchDirs(Drain.fileStream(s, stageQ142(s, d)),
      Staging.scratchDir("graft_neardup_ckpt"), out)(neardupProbe(_, shStatic))
    // only the (now drained) per-batch plans referenced the cached index
    shStatic.unpersist()
    ()
  }

  /** The final exact merge over a maintained pair store (q142's read
    * side): sum the 2x-counted partials, apply the EXACT gate on the
    * carried size sum — no size join here either. */
  private[streaming] def neardupMerged(s: SparkSession, out: String): DataFrame = {
    val counted = s.read.parquet(out)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(col("inter2")).as("inter2"), min(col("szsum")).as("szsum"))
    val jac = (col("inter2") / 2) / (col("szsum") - col("inter2") / 2)
    counted
      .filter(jac >= 0.2)
      .select(col("doc_a"), col("doc_b"), round(jac, 6).as("jac"))
  }

  /** The maintained pair store as a memoized prestaged artifact — the
    * output q142's continuously-running ingest stream has already
    * produced in a deployment (the drainedRollup posture); q275's timed
    * read serves clusters from it. */
  private[streaming] def drainedNeardupStore(s: SparkSession, d: String): String =
    Staging.stagedDir(d, "documents", "neardup_store")(neardupDrain(s, d, _))

  /** q158's write path: drain the arrival feed's per-doc distinct hashed
    * shingles into a parquet file sink (Spark's exactly-once append) —
    * ONE copy shared by the q158 entry (drained fresh; the write path is
    * its subject) and the memoized store q277 serves from. */
  private[streaming] def shingleDrain(s: SparkSession, d: String, out: String): Unit = {
    val arriving = graft.text.Text.arrivingShingles(Drain.fileStream(s, stageQ158(s, d)))
    Drain.toFiles(arriving, Staging.scratchDir("graft_idx_ckpt"), out)
  }

  /** The maintained shingle index and MinHash-signature table as
    * memoized prestaged artifacts (the q158/q263 write paths' standing
    * output in a deployment) — q277 serves the LSH keeper off them. */
  private[streaming] def drainedShingleStore(s: SparkSession, d: String): String =
    Staging.stagedDir(d, "documents", "shingle_store")(shingleDrain(s, d, _))
  private[streaming] def drainedMinhashStore(s: SparkSession, d: String): String =
    Staging.stagedDir(d, "documents", "mhidx_store")(
      minhashDrain(s, stageQ158(s, d), _))

  /** q274's write path: drain the arrival feed through the per-batch
    * funnel gate (staged models broadcast) into batch=<id> verdict
    * partitions under `out` — ONE copy shared by the q274 entry (drained
    * fresh) and the memoized store q279 serves from. */
  private[streaming] def funnelGateDrain(s: SparkSession, d: String, out: String): Unit = {
    val gm = graft.text.Funnel.gateModels(s, d)
    // The four KN gate tables are vocab²-bounded deployment artifacts that
    // EVERY micro-batch broadcasts (Text.knScoredAgainst). Persisted
    // distributed reads made each batch pay a cached-scan job per table to
    // build its broadcast (4 build jobs × batches per drain); collected
    // once into driver-local relations, the per-batch broadcasts build
    // driver-side with zero jobs. Driver footprint is the same
    // ≤-broadcast-size bound the scoring join already relies on (guide
    // §3.1/§5; VERDICT r21 item 2 adjudicated this reuse as deployment
    // hygiene — the gate's semantics stay per-batch, StreamFunnelSpec).
    def localArtifact(path: String): DataFrame = {
      val df = s.read.parquet(path)
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    }
    val cb = localArtifact(s"${gm.knDir}/cb")
    val cw1 = localArtifact(s"${gm.knDir}/cw1")
    val cw2 = localArtifact(s"${gm.knDir}/cw2")
    val tt = localArtifact(s"${gm.knDir}/tt")
    Drain.toBatchDirs(Drain.fileStream(s, stageQ142(s, d)),
        Staging.scratchDir("graft_funnelgate_ckpt"), out) { batch =>
      graft.text.Funnel.gateVerdicts(batch, gm.posteriors, gm.wsum, cb, cw1, cw2, tt)
    }
  }

  /** The maintained verdict store — q274's standing output, memoized
    * for q279's shipped-corpus read. */
  private[streaming] def drainedVerdictStore(s: SparkSession, d: String): String =
    Staging.stagedDir(d, "documents", "verdict_store")(funnelGateDrain(s, d, _))

  private[streaming] def stageQ142(s: SparkSession, d: String): String =
    stage3Way(s, d, "documents", "q142_neardup_3way", "doc_id")
  private[streaming] def stageQ158(s: SparkSession, d: String): String =
    stage3Way(s, d, "documents", "q158_index_maintenance", "doc_id")
  private[streaming] def stageQ183(s: SparkSession, d: String): String =
    stage3Way(s, d, "events", "q183_rollup_job", "event_id")
  private[streaming] def stageQ195(s: SparkSession, d: String): String =
    stage3Way(s, d, "embeddings", "q195_vector_index", "vec_id")

  /** q207's arrival staging: the corpus as WebDataset tar shards
    * ([[graft.ingest.Shards.shardTable]] — the q203 fabrication seam),
    * split into three arrival waves BY SHARD (shard_id % 3, never by
    * doc — samples must not span arrival units, the property the shard
    * format guarantees). Memoized like the other staged sources. */
  private[streaming] def stageQ207(s: SparkSession, d: String): String =
    Staging.stagedDir(d, "documents", "stream_shards") { tmp =>
      val shards = graft.ingest.Shards.shardTable(s, d).toDF("shard_id", "bytes")
      (0 until 3).foreach(i =>
        writeOrderedFile(shards.filter(col("shard_id") % 3 === i), tmp, i))
    }

  /** q207's write path: drain the shard arrivals in `src` through the
    * map-only ustar parse + sample regroup into a parquet file sink at
    * `out`. The sink's commit log under `ckpt` makes the materialized
    * corpus exactly-once: a restart resumes, a replay adds nothing
    * (StreamShardIngestSpec drains the same `ckpt` three times). */
  private[streaming] def shardDrain(s: SparkSession, src: String, out: String,
                                    ckpt: String): Unit = {
    import s.implicits._
    val parsed = Drain.fileStream(s, src).select(col("shard_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .flatMap { case (shardId, bytes) => graft.ingest.Shards.parseShard(shardId, bytes) }
    Drain.toFiles(parsed.toDF(), ckpt, out)
  }

  /** Pre-build every staged stream-source dir (bench hygiene, VERDICT r3 #7):
    * staging is harness machinery that converts a static table into the
    * file-stream dir a production deployment would already have — it is not
    * query-serving work, so Bench runs this untimed before the first
    * streaming query instead of letting the memoized first hit land inside
    * that query's timing. */
  def prestage(s: SparkSession, dir: String): Unit = {
    // per-step stderr attribution (r18 #3): stream-prestage is the
    // dominant ingest_parts line, and its cost classes — file staging
    // rewrites vs streaming store drains — need separate visibility to
    // be optimizable; this prints one line per step with its seconds
    def step(label: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      body
      System.err.println(f"[prestage] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    // The file stagings run sequentially first: they are cheap (~5 s of
    // the r18 sweep's 28.5 s) and they are the SOURCES the drains below
    // read, so finishing them up front turns every in-drain stage call
    // into a memo hit.
    step("stage-events-x1")(stage(s, dir, "events", 1))
    step("stage-events-x2")(stage(s, dir, "events", 2))
    step("stage-q55-split")(stageQ55(s, dir))
    step("stage-q142-split")(stageQ142(s, dir))
    step("stage-q158-split")(stageQ158(s, dir))
    step("stage-q183-split")(stageQ183(s, dir))
    step("stage-q195-split")(stageQ195(s, dir))
    step("stage-q207-shards")(stageQ207(s, dir))
    // The store drains + model staging were ~23 s of the 28.5 s, strictly
    // sequential while each one drives at most 8 state partitions on a
    // 32-core box (r18 #3). They are independent chains over DISTINCT
    // staged artifacts, so run them CONCURRENTLY, each on its own cloned
    // session (isolated SQLConf — the per-session shuffle-partition
    // override no longer serializes on a shared conf; same SparkContext,
    // so the scheduler interleaves their tiny per-batch jobs onto the
    // idle cores). Dependency order inside each chain is preserved:
    // gate-models feeds the verdict drain; the shingle/minhash drains
    // share the q158 source (staged above) but write distinct stores.
    val chains: Seq[() => Unit] = Seq(
      () => {
        val ss = graft.core.GraftSession.clonedSession(s)
        // q274's deployed gate models — offline training artifacts, not
        // query-serving work (the gate never trains at the door); the
        // verdict store (q279) is the gate's standing output
        step("gate-models")(graft.text.Funnel.gateModels(ss, dir))
        step("drain-verdicts")(drainedVerdictStore(ss, dir))
      },
      () => step("drain-rollup")(
        drainedRollup(graft.core.GraftSession.clonedSession(s), dir)),
      // q275's maintained pair store — the ingest stream's standing output
      () => step("drain-neardup")(
        drainedNeardupStore(graft.core.GraftSession.clonedSession(s), dir)),
      () => {
        // q277's maintained dedup artifacts (shingle index + signatures)
        val ss = graft.core.GraftSession.clonedSession(s)
        step("drain-shingles")(drainedShingleStore(ss, dir))
        step("drain-minhash")(drainedMinhashStore(ss, dir))
      })
    // await ALL chains (a failure in one must not abandon the others
    // mid-drain), then surface the first failure — fatal included, extras
    // suppressed (graft.core.Concurrent, the one copy of the pattern)
    graft.core.Concurrent.runAll(chains)
    ()
  }

  private def readStreamTable(s: SparkSession, dir: String, table: String,
                              copies: Int = 1): DataFrame =
    Drain.fileStream(s, stage(s, dir, table, copies))

  /** Run a streaming DF to a memory sink until drained; return its rows.
    * The returned frame holds the sink's plan itself, so the sink's
    * session view is dropped here — a long-lived session gains no
    * `graft_mem_N` table per call. */
  private[streaming] def runToMemory(df: DataFrame, mode: OutputMode): DataFrame = {
    val s = df.sparkSession
    val name = s"graft_mem_${nameCounter.incrementAndGet()}"
    Drain.run(df, Staging.scratchDir("graft_mem_ckpt"))(
      _.format("memory").queryName(name).outputMode(mode))
    val drained = s.table(name)
    s.catalog.dropTempView(name)
    drained
  }

  /** q81/q139/q157's stream-stream join: purchases against the clicks
    * of the same user in the hour before, both sides watermarked by 1 h,
    * drained in Append mode to (purchase_id, click_id). */
  private def purchaseClickJoin(s: SparkSession, d: String, joinType: String): DataFrame = {
    def side(kind: String, id: String, user: String, ts: String) =
      readStreamTable(s, d, "events").filter(col("event_type") === kind)
        .select(col("event_id").as(id), col("user_id").as(user), col("ts").as(ts))
        .withWatermark(ts, "1 hour")
    val joined = side("purchase", "purchase_id", "pu", "pts")
      .join(side("click", "click_id", "cu", "cts"),
        col("cu") === col("pu") &&
        col("cts") >= col("pts") - expr("INTERVAL 1 HOUR") && col("cts") <= col("pts"),
        joinType)
    runToMemory(joined.select(col("purchase_id"), col("click_id")), OutputMode.Append())
  }

  private val eventCountOracle =
    "SELECT event_type, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY 1"

  val entries: Seq[Entry] = Seq(

    // Q51: micro-batch ingestion through the OP-7 merge — final doc table
    // must equal the batch fold (same oracle as q03).
    Entry("q51_stream_ingest", DocSync.oracleSqlDocTable) { (s, d) =>
      val stream = ChangeLog.fromEvents(readStreamTable(s, d, "events"))
      val stateDir = Staging.scratchDir("graft_docstate")
      val ckpt = Staging.scratchDir("graft_ckpt")
      DocSync.flattenDocs(DocSync.runStream(s, stream, stateDir, ckpt))
    },

    Entry("q52_tumbling_window",
      """SELECT epoch_us(date_trunc('hour', ts)) AS ws, COUNT(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val agg = readStreamTable(s, d, "events")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Complete())
        .select(unix_micros(col("window.start")).as("ws"), col("n")).orderBy(col("ws"))
    },

    Entry("q53_sliding_window",
      """SELECT epoch_us(time_bucket(INTERVAL '15 minutes', ts) - k * INTERVAL '15 minutes') AS ws,
        |       COUNT(*) AS n
        |FROM events CROSS JOIN (VALUES (0),(1),(2),(3)) t(k)
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val agg = readStreamTable(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Complete())
        .select(unix_micros(col("window.start")).as("ws"), col("n")).orderBy(col("ws"))
    }.sqlTwin(
      // structural gap: DuckDB time_bucket + VALUES table — express the
      // 15-min bucket as integer micros arithmetic, the slide offsets via
      // explode(sequence(...))
      """SELECT (unix_micros(ts) div 900000000) * 900000000 - CAST(k AS BIGINT) * 900000000 AS ws,
        |       COUNT(*) AS n
        |FROM events CROSS JOIN (SELECT explode(sequence(0, 3)) AS k)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    Entry("q54_session_window",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, epoch_us(MIN(ts)) AS ws, epoch_us(MAX(ts) + INTERVAL '30 minutes') AS we,
        |       COUNT(*) AS n
        |FROM g GROUP BY user_id, sid ORDER BY user_id, ws""".stripMargin) { (s, d) =>
      // session_window on the same micro-batch engine path; batch mode keeps
      // the full result set deterministic (streaming append emission is
      // covered by q55's watermark check).
      Tables(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("session_window.start")).as("ws"),
                unix_micros(col("session_window.end")).as("we"), col("n"))
        .orderBy(col("user_id"), col("ws"))
    },

    // Q54 streaming twin: the same session windows through a REAL
    // watermarked stream in Append mode — only sessions closed under the
    // final watermark (max ts - 1 h) are emitted; the oracle replays that
    // emission rule on top of the batch island-detection.
    Entry("q54_session_stream",
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL '30 minutes' THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |sess AS (
        |  SELECT user_id, MIN(ts) AS ws, MAX(ts) + INTERVAL '30 minutes' AS we, COUNT(*) AS n
        |  FROM g GROUP BY user_id, sid),
        |wm AS (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) - INTERVAL '1 hour' AS w FROM events)
        |SELECT user_id, epoch_us(ws) AS ws, epoch_us(we) AS we, n FROM sess
        |WHERE we <= (SELECT w FROM wm)
        |ORDER BY user_id, ws""".stripMargin) { (s, d) =>
      val agg = readStreamTable(s, d, "events")
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Append())
        .select(col("user_id"), unix_micros(col("session_window.start")).as("ws"),
                unix_micros(col("session_window.end")).as("we"), col("n"))
        .orderBy(col("user_id"), col("ws"))
    },

    // Q55: watermark semantics — THREE ordered micro-batches: evens first
    // (establish the watermark), then the odd rows whose window is still
    // open, then the late odds. Spark (3.4+, SPARK-40925) filters late
    // records against the PREVIOUS batch's watermark, so the late rows must
    // arrive two batches after the rows that establish the watermark; this
    // staging makes the drop deterministic under both the old (same-batch
    // watermark) and new (previous-batch watermark) semantics. The DuckDB
    // oracle replays exactly that rule: old windows keep even-only counts,
    // and only windows closed under the final watermark are emitted.
    Entry("q55_watermark",
      """WITH wm1 AS (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) - INTERVAL '1 hour' AS w FROM events WHERE event_id % 2 = 0),
        |wmf AS (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) - INTERVAL '1 hour' AS w FROM events),
        |kept AS (
        |  SELECT date_trunc('day', ts) AS ws FROM events
        |  WHERE event_id % 2 = 0
        |     OR date_trunc('day', ts) + INTERVAL '1 day' > (SELECT w FROM wm1))
        |SELECT epoch_us(ws) AS ws, COUNT(*) AS n FROM kept
        |WHERE ws + INTERVAL '1 day' <= (SELECT w FROM wmf)
        |GROUP BY ws ORDER BY ws""".stripMargin) { (s, d) =>
      val agg = Drain.fileStream(s, stageQ55(s, d)).withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Append())
        .select(unix_micros(col("window.start")).as("ws"), col("n")).orderBy(col("ws"))
    },

    // Q56: stateful dedup — every event arrives twice; dropDuplicates
    // collapses to the batch-distinct result.
    Entry("q56_stream_dedup", eventCountOracle) { (s, d) =>
      val stream = readStreamTable(s, d, "events", copies = 2)
      val agg = stream.dropDuplicates("event_id")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Complete()).orderBy(col("event_type"))
    },

    // Q56b: bounded-state dedup — dropDuplicatesWithinWatermark evicts
    // dedup state once the watermark passes event time + delay. The delay
    // (90 days) exceeds the fixture's whole time span (~30 days of events),
    // so no replayed duplicate is ever late-dropped and the result equals
    // distinct BY THE OPERATOR'S DEDUP, not by late-row filtering —
    // exercising the bounded-state wiring end-to-end. (With a delay
    // shorter than the span, batch-2 duplicates older than the watermark
    // would be dropped as late instead of deduped — same counts here, but
    // the wrong mechanism to pin.)
    Entry("q56_dedup_within_watermark", eventCountOracle) { (s, d) =>
      val stream = readStreamTable(s, d, "events", copies = 2)
      val agg = stream.withWatermark("ts", "90 days")
        .dropDuplicatesWithinWatermark("event_id")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Complete()).orderBy(col("event_type"))
    },

    // Q57: the OP-7 merge as arbitrary stateful processing
    // (flatMapGroupsWithState keeping Map[qualifier -> value] per rowKey).
    Entry("q57_stateful_merge", DocSync.oracleSqlDocTable) { (s, d) =>
      import s.implicits._
      val stream = ChangeLog.fromEvents(readStreamTable(s, d, "events"))
      val typed = stream.as[ChangeLog.ChangeEvent]
      val merged = typed.groupByKey(_.rowKey)
        .flatMapGroupsWithState[Map[String, String], (String, Map[String, String])](
          OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
          case (key, events, state: GroupState[Map[String, String]]) =>
            var doc = state.getOption.getOrElse(Map.empty[String, String])
            events.toSeq.sortBy(_.seq).foreach { e =>
              if (e.op == "DELETE") doc = Map.empty
              else doc = doc ++ e.cells.map(c => c.qualifier -> c.value)
            }
            state.update(doc)
            Iterator.single((key, doc))
        }
      val mem = runToMemory(merged.toDF("row_key", "doc"), OutputMode.Update())
      // update-mode memory sink appends one row per key per batch: keep the
      // last emission per key (single staged file -> single batch, but stay
      // robust to re-batching).
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("row_key"))
        .orderBy(monotonically_increasing_id().desc)
      mem
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .filter(size(col("doc")) > 0)
        .select(
          col("row_key"),
          element_at(col("doc"), "event_type").as("event_type"),
          element_at(col("doc"), "value").as("value"),
          element_at(col("doc"), "user_id").as("user_id"),
          element_at(col("doc"), "props").as("props"))
        .orderBy(col("row_key"))
    },

    // Stream-stream inner join with watermarks on both sides and a time
    // band: state is evicted by the watermark, but an INNER join drained
    // with AvailableNow emits exactly the batch join's pairs — the oracle
    // IS the batch interval join.
    Entry("q81_stream_stream_join",
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      purchaseClickJoin(s, d, "inner").orderBy(col("purchase_id"), col("click_id"))
    },

    // Stream-stream LEFT OUTER join: matched pairs emit like q81's inner
    // join; an UNMATCHED purchase emits its null-extended row only once
    // the watermark guarantees no matching click can still arrive — i.e.
    // when the global watermark (min of both inputs' max event time,
    // ms-truncated, minus the 1 h delay) passes the purchase's timestamp,
    // since the band only admits clicks with cts <= pts. The oracle
    // replays exactly that emission rule on top of the batch left join:
    // purchases still inside the final watermark horizon stay unemitted
    // (state that would keep waiting in a live stream). Same state
    // machinery as q81 — watermark-bounded per-key state, one shuffle on
    // the join key.
    Entry("q139_stream_stream_left_join",
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |      WHERE event_type = 'click'),
        |wm AS (SELECT least(
        |    (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) FROM p),
        |    (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) FROM c))
        |  - INTERVAL '1 hour' AS w),
        |j AS (SELECT p.purchase_id, c.click_id FROM p JOIN c
        |      ON c.user_id = p.user_id
        |      AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts)
        |SELECT purchase_id, click_id FROM j
        |UNION ALL
        |SELECT purchase_id, NULL AS click_id FROM p
        |WHERE purchase_id NOT IN (SELECT purchase_id FROM j)
        |  AND ts < (SELECT w FROM wm)
        |ORDER BY purchase_id, click_id""".stripMargin) { (s, d) =>
      purchaseClickJoin(s, d, "left_outer").orderBy(col("purchase_id"), col("click_id"))
    },

    // FULL outer stream-stream join — q139 plus the symmetric right-side
    // emission. Eviction horizons differ per side because the range
    // condition is asymmetric: a purchase at pts matches clicks in
    // [pts - 1h, pts], so its state dies when the watermark passes pts
    // (`ts < w`); a click at cts matches purchases in [cts, cts + 1h], so
    // its state must outlive the watermark by the range width
    // (`ts + 1h < w`). The oracle replays both rules on the batch join.
    // NULLS LAST pinned explicitly on both engines: Spark ASC defaults
    // null-first, DuckDB null-last — the right-unmatched rows (NULL
    // purchase_id) would otherwise sort to opposite ends.
    Entry("q157_stream_stream_full_join",
      """WITH p AS (SELECT event_id AS purchase_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS click_id, user_id, ts FROM events
        |      WHERE event_type = 'click'),
        |wm AS (SELECT least(
        |    (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) FROM p),
        |    (SELECT make_timestamp((epoch_us(max(ts)) // 1000) * 1000) FROM c))
        |  - INTERVAL '1 hour' AS w),
        |j AS (SELECT p.purchase_id, c.click_id FROM p JOIN c
        |      ON c.user_id = p.user_id
        |      AND c.ts >= p.ts - INTERVAL '1 hour' AND c.ts <= p.ts)
        |SELECT purchase_id, click_id FROM j
        |UNION ALL
        |SELECT purchase_id, CAST(NULL AS BIGINT) AS click_id FROM p
        |WHERE purchase_id NOT IN (SELECT purchase_id FROM j)
        |  AND ts < (SELECT w FROM wm)
        |UNION ALL
        |SELECT CAST(NULL AS BIGINT) AS purchase_id, click_id FROM c
        |WHERE click_id NOT IN (SELECT click_id FROM j)
        |  AND ts + INTERVAL '1 hour' < (SELECT w FROM wm)
        |ORDER BY purchase_id NULLS LAST, click_id NULLS LAST""".stripMargin) { (s, d) =>
      purchaseClickJoin(s, d, "full_outer")
        .orderBy(col("purchase_id").asc_nulls_last, col("click_id").asc_nulls_last)
    },

    Entry("q58_stream_static_join",
      """SELECT c_mktsegment, COUNT(*) AS n FROM events
        |JOIN customer ON user_id = c_custkey GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
      val customers = Tables(s, d, "customer")   // static dim, broadcast
      val agg = readStreamTable(s, d, "events")
        .join(broadcast(customers), col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Complete()).orderBy(col("c_mktsegment"))
    },

    // Ingest-time near-dup detection: each ARRIVING document probes the
    // corpus shingle index (the staged TokenIndex.shingles3 — at a
    // deployment, the index the write path maintains) for existing docs
    // sharing 3-shingles. The per-row analysis chain (tokenize -> shingle
    // -> hash -> distinct) is the stateless map side; the stream-static
    // join on the 64-bit shingle hash is the index lookup. Pair counts
    // use q183's ROLLUP posture — per-batch-complete partials in
    // idempotent batch=<id> partitions, merged with one sum (see
    // [[neardupDrain]] for the probe/prune law; every unordered pair is
    // discovered from BOTH endpoints, so the merged count is exactly 2x
    // the intersection — halved before the Jaccard gate).
    //
    // TIMED SUBJECT (r19 #2): the SERVING read — merge the MAINTAINED
    // pair store (the write path's standing output; at a deployment the
    // ingest stream runs continuously, so "run the drain" is never a
    // query-time cost). The previous entry drained the 3-wave replay
    // fresh inside its own timing, which scaled with corpus size (18x at
    // 10x data — SCALE.md r18) and measured harness staging, not the
    // query. The write path keeps two non-timed proofs: the store IS
    // neardupDrain's output (built at staging), and StreamClusterSpec
    // drains a FRESH replay per session and pins it row-for-row against
    // the maintained store. Oracle unchanged — the batch all-pairs twin
    // (q61's law, shared text): the hash still pins drained == at-rest.
    // The banded MinHash route stays bench-only (q61_minhash_lsh):
    // banding recall < 1 can't meet a hash-equality contract.
    Entry("q142_stream_neardup_ingest", graft.text.Text.neardupPairsOracleSql) { (s, d) =>
      neardupMerged(s, drainedNeardupStore(s, d)).orderBy(col("doc_a"), col("doc_b"))
    },

    // The end-to-end incremental dedup SERVING path (SURVEY Q275): q142
    // maintains the pruned pair store at ingest; the query a pipeline
    // actually runs against it is "give me the clusters" — exact-gate
    // merge over the maintained partitions, then the q90 min-label
    // closure, with NO shingle work at query time (the probe paid it at
    // the door). The pair store is a memoized prestaged artifact (the
    // production posture: the ingest stream maintains it continuously —
    // the q183/q270 staging argument), so the timed entry is the read
    // path: O(survivor-pairs) merge + the closure loop over the edge
    // list. The oracle is q90's closure text, ONE copy — the hash pins
    // "clusters off the stream-maintained store" == "clusters at rest"
    // (q142's merge is itself pinned equal to the q61 pair law, and the
    // closure consumes only the pair set).
    Entry("q275_stream_dedup_clusters", graft.text.Pipeline.q90OracleSql) { (s, d) =>
      graft.text.Pipeline.clusterPairs(
        neardupMerged(s, drainedNeardupStore(s, d))
          .select(col("doc_a"), col("doc_b")))
    }.sqlTwin(graft.text.Pipeline.q90TwinSql),

    // The canonical-selection pipeline served ENTIRELY from write-path
    // artifacts (SURVEY Q277): every object the keeper needs already
    // exists as a stream-maintained or staged table — MinHash signatures
    // (q263's write path), the shingle index (q158's), the quality
    // model (q274's staged posteriors, folded back as literals) — so the
    // query is reads + the keeper rule: band the maintained signatures,
    // exact-verify candidates against the maintained shingles, cluster,
    // argmax. No query-time tokenization, sketching, or training
    // anywhere in the plan — the full dedup+selection path a deployment
    // actually serves. Bench-only (band buckets are engine-specific);
    // KeeperLshSpec pins row-for-row equality with q272 (whose artifacts
    // are batch-built), closing maintained == at-rest at the DECISION
    // level.
    Entry.benchOnly("q277_keeper_from_maintained") { (s, d) =>
      val sigs = s.read.parquet(drainedMinhashStore(s, d))
      val sh = s.read.parquet(drainedShingleStore(s, d))
        .select(col("doc_id"), col("h"))
      val cands = graft.text.Text.lshCandidatesFromSigs(sigs,
        graft.text.Text.LshNumPerm, graft.text.Text.LshBands,
        graft.text.Text.LshMaxBucket)
      val inter = sh.as("a").join(cands, col("a.doc_id") === col("doc_a"))
        .join(sh.as("b"),
          col("b.doc_id") === col("doc_b") && col("a.h") === col("b.h"))
        .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
      val pairs = graft.text.Text.jaccardScored(sh, inter, 0.2)
      val cl = graft.text.Pipeline.clusterPairs(
        pairs.select(col("doc_a"), col("doc_b")))
      val gm = graft.text.Funnel.gateModels(s, d)
      val scored = graft.text.QualityModel
        .bucketFrame(Tables(s, d, "documents"))
        .select(col("doc_id"),
          graft.text.QualityModel.scoreColOf(gm.posteriors).as("score"))
      graft.text.Pipeline.keeperTail(scored, cl)
    },

    // Decontamination as an INGEST-TIME gate (SURVEY Q261) — q254 audits
    // the corpus at rest; a deployment wants eval leakage stopped at the
    // door, before a contaminated doc ever lands in the training store.
    // Arriving docs (q142's 3-wave staging, shared) probe the BROADCAST
    // benchmark shingle set inside each micro-batch and flagged docs are
    // quarantined to the sink; the declared result reads the quarantine.
    // The oracle is q254's text, ONE copy (Text.decontamOracleSql): the
    // hash check pins "gate at ingest" == "audit at rest" — batching
    // cannot change the flagged set because a doc's shingles are complete
    // in its batch and the benchmark is static, so the per-batch agg is
    // already the final per-doc answer (contrast q142, whose pair
    // partials DO straddle batches and need the sink merge).
    // Scale: the per-batch plan is one broadcast probe + one batch-sized
    // agg — zero corpus-keyed exchanges at any deployment scale; each
    // batch owns its batch=<id> partition (idempotent under replay, the
    // q183 posture).
    Entry("q261_stream_decontaminate", graft.text.Text.decontamOracleSql) { (s, d) =>
      val bset = graft.text.TokenIndex.shingles3(s, d)
        .filter(col("doc_id") % 97 === 0).select(col("h")).distinct()
        .withColumn("hit", lit(1)).persist()
      val out = Staging.scratchDir("graft_decontam_out")
      Drain.toBatchDirs(Drain.fileStream(s, stageQ142(s, d)),
        Staging.scratchDir("graft_decontam_ckpt"), out)(decontamProbe(_, bset))
      s.read.parquet(out)
        .select(col("doc_id"), col("n_shingles"), col("n_hits"), col("permille"))
        .orderBy(col("doc_id"))
    },

    // The curation funnel as an INGEST-TIME gate (SURVEY Q274, VERDICT
    // r16 #5) — q261's broadcast-probe posture generalized to ALL of
    // q252's per-doc gates: arriving docs get their robots verdict,
    // canonical URL, rule-quality counts and all three MODEL verdicts
    // (NB posterior / KN perplexity / perceptron margin — each model a
    // static staged artifact, Funnel.gateModels) decided inside their
    // own micro-batch and landed in idempotent batch=<id> partitions.
    // Only the two keeper resolutions (url/text-unique — inherently
    // cross-doc) wait for the read-side merge over the maintained
    // verdict table (the q142 contrast). The oracle is q252's text, ONE
    // copy — the hash pins "gate at ingest" == "funnel at rest" across
    // all eight nesting levels. StreamFunnelSpec additionally pins
    // frame-level equality with q252 across the three arrival waves;
    // PlanShapeSpec pins the per-batch plan (models broadcast, every
    // hash exchange batch-keyed — zero corpus-keyed exchanges).
    Entry("q274_stream_funnel_gate", graft.text.Funnel.v2OracleSql) { (s, d) =>
      val out = Staging.scratchDir("graft_funnelgate_out")
      funnelGateDrain(s, d, out)
      graft.text.Funnel.reportFromGateVerdicts(s.read.parquet(out))
    }.sqlTwin(graft.text.Funnel.v2TwinSql),

    // The SHIPPED corpus (SURVEY Q279) — the terminal read of the whole
    // curation pipeline, served from write-path artifacts: per-doc
    // funnel verdicts off the MAINTAINED verdict store (q274's standing
    // output), near-dup clusters off the MAINTAINED pair store (q142's,
    // via q275's merge), quality scores as the STAGED posterior fold —
    // composed into the per-language card of what actually ships: a doc
    // ships iff it survives all eight funnel gates AND is its near-dup
    // cluster's quality argmax (stage 5 removed exact copies keep-min;
    // the keeper removes near-dup losers keep-best). The oracle replays
    // the ENTIRE composition at rest in one SQL text built from the
    // same shared fragments q252 and q268 hash against — one hash pins
    // five subsystems' composition per language.
    // Non-vacuity measured before pinning (the q225 discipline): the
    // keeper strictly drops funnel survivors at sf0.001 (4 docs:
    // es/fr/zh) and sf0.1 (3 docs: en); at sf0.01 the two systems
    // happen to agree doc-for-doc — the hash there still pins the
    // composition arithmetic, and ShippedCorpusSpec pins the strict
    // drop at sf0.001.
    Entry("q279_shipped_corpus", graft.text.Funnel.shippedSql(duck = true)) { (s, d) =>
      val reach = graft.text.Funnel.gateReach(
        s.read.parquet(drainedVerdictStore(s, d)))
      val cl = graft.text.Pipeline.clusterPairs(
        neardupMerged(s, drainedNeardupStore(s, d))
          .select(col("doc_a"), col("doc_b")))
      val gm = graft.text.Funnel.gateModels(s, d)
      val scored = graft.text.QualityModel
        .bucketFrame(Tables(s, d, "documents"))
        .select(col("doc_id"),
          graft.text.QualityModel.scoreColOf(gm.posteriors).as("score"))
      val keeper = graft.text.Pipeline.keeperVerdicts(scored, cl)
        .select(col("doc_id").as("kid"), col("keeper"))
      val lng = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      reach.join(lng, "doc_id")
        .join(keeper, col("doc_id") === col("kid"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("reached") >= 8, 1L).otherwise(0L)).as("n_funnel"),
          sum(when(col("reached") >= 8 && col("keeper") === 1L, 1L).otherwise(0L))
            .as("n_shipped"),
          coalesce(sum(when(col("reached") >= 8 && col("keeper") === 1L,
            col("n_tok"))), lit(0L)).cast("bigint").as("n_tok_shipped"))
        .orderBy(col("lang"))
    }.sqlTwin(graft.text.Funnel.shippedSql(duck = false)),

    // Q59: update output mode — per-batch emissions; the final value per key
    // is the batch-equivalent count (counts are monotone across batches).
    Entry("q59_update_mode", eventCountOracle) { (s, d) =>
      val agg = readStreamTable(s, d, "events")
        .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      runToMemory(agg, OutputMode.Update())
        .groupBy(col("event_type")).agg(max(col("n")).as("n"))
        .orderBy(col("event_type"))
    },

    // Incremental index maintenance — "the index the write path
    // maintains" (the claim every staged-index consumer rests on) as
    // running machinery: arriving documents stream their per-doc distinct
    // hashed 3-shingles (the q61/q90/q102 working set) into a parquet
    // FILE SINK with a checkpoint — Spark's exactly-once append (offsets
    // + the sink's file manifest commit atomically; a replayed batch
    // overwrites its own manifest entry, never double-appends). Three
    // disjoint arrival files force three genuinely incremental batches.
    // The declared result reads the MAINTAINED index and reports per-doc
    // shingle counts over the corpus spine — hash-checked against the
    // batch-built derivation, so "index built incrementally at write
    // time" and "index built in one batch pass" are pinned equal. Docs
    // with < 3 tokens never enter the index (no shingles): the spine
    // left-join restores them at count 0 on both sides.
    Entry("q158_index_maintenance",
      s"""WITH ${graft.text.Text.wordsCtesSql},
        |${graft.text.Text.shingle3CteSql(distinct = true)},
        |cnt AS (SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY 1)
        |SELECT t.doc_id, CAST(COALESCE(c.n_shingles, 0) AS BIGINT) AS n_shingles
        |FROM toks t LEFT JOIN cnt c ON c.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
      val out = Staging.scratchDir("graft_idx_out")
      shingleDrain(s, d, out)
      val counts = s.read.parquet(out)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      Tables(s, d, "documents").select(col("doc_id"))
        .join(counts, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("n_shingles"), lit(0L)).as("n_shingles"))
        .orderBy(col("doc_id"))
    },

    // Streaming WebDataset shard ingest — q203's container layer driven
    // by the engine's exactly-once arrival machinery (the q158 posture
    // applied to the corpus itself): tar-shard blobs arrive in three
    // waves split BY SHARD, each micro-batch runs the map-only
    // full-validation ustar parse + sample regroup, and the parquet file
    // sink's commit log makes the materialized corpus exactly-once under
    // replay (StreamShardIngestSpec re-drains the same checkpoint and
    // pins zero duplicates). The oracle recomputes every column from the
    // source table including md5(text) — the arrived corpus must equal
    // the source BYTE-EXACT through archive + arrival. At 100 TB this is
    // the ingest path: shards land in object storage, the stream
    // incrementally materializes the training table; per-batch work is
    // O(arrived shards), parse is shuffle-free.
    Entry("q207_stream_shard_ingest",
      """SELECT doc_id, doc_id // 8 AS shard_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS txt_len,
        |  CAST(doc_id % 7 AS INT) AS cls, md5(text) AS txt_md5
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      val out = Staging.scratchDir("graft_shard_out")
      shardDrain(s, stageQ207(s, d), out, Staging.scratchDir("graft_shard_ckpt"))
      s.read.parquet(out)
        .select(col("doc_id"), col("shard_id"), col("txt_len"), col("cls"),
                md5(col("txt_bytes")).as("txt_md5"))
        .orderBy(col("doc_id"))
    }.sqlTwin(
      """SELECT doc_id, doc_id div 8 AS shard_id,
        |  CAST(octet_length(CAST(text AS BINARY)) AS BIGINT) AS txt_len,
        |  CAST(doc_id % 7 AS INT) AS cls, md5(text) AS txt_md5
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ES X-Pack rollup job (introduced in 6.3 — the reference's exact ES
    // line): a continuous background job pre-aggregates a time-series
    // index into compact per-bucket summary docs; queries over rolled-up
    // data MERGE the summaries (counts/sums add, mins/maxes fold, avg =
    // merged sum / merged count — ES stores sum+count for exactly this
    // reason). Running machinery, not a simulation: each arriving
    // micro-batch writes its PARTIAL (day, event_type) aggregate into
    // its own batch=<id> partition — a replayed batch overwrites only
    // its own partition, so the foreachBatch append is idempotent
    // (exactly-once without a stateful store: the rollup's additivity
    // makes per-batch partials sufficient, no cross-batch state). Three
    // disjoint arrival files force three genuinely incremental batches.
    // The declared result queries the MAINTAINED rollup — merge-fold
    // semantics hash-checked against DuckDB aggregating the RAW events,
    // pinning "rollup then merge" == "aggregate the source". At 100 TB
    // the query scans O(buckets x batches) summary rows, never raw
    // events — the entire point of the rollup index.
    Entry("q183_rollup_job",
      """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS sum_v,
        |  ROUND(MIN(value), 6) AS min_v, ROUND(MAX(value), 6) AS max_v,
        |  ROUND(SUM(value) / COUNT(*), 6) AS avg_v
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, d) =>
      val src = stageQ183(s, d)
      val out = Staging.scratchDir("graft_rollup_out")
      rollupDrain(s, src, out)
      rollupMerge(s, out)
    },

    // Cardinality served from the ROLLED-UP index (bench-only): per-bucket
    // distinct-user counts from the stored mergeable HLL sketch partials
    // (union the binaries, estimate once at the end) — never a raw-event
    // scan, which is what lets a 100 TB rollup answer distinct-count
    // queries at summary cost. ES X-Pack rollup serves `cardinality` from
    // stored sketches the same way. Estimates are engine-specific by
    // design (no DuckDB oracle); RollupHllSpec bounds the relative error
    // vs the exact distinct count and pins sketch-merge associativity
    // across batch partials and compaction. Reads the MEMOIZED drained
    // rollup ([[drainedRollup]], prestaged untimed): in production the
    // rollup job's output already exists — this entry times the serving
    // read, not a re-run of the write path (q183_rollup_job times that).
    Entry.benchOnly("q183_rollup_cardinality") { (s, d) =>
      rollupCardinality(s, drainedRollup(s, d))
    },

    // Percentiles served from the ROLLED-UP index (bench-only): p50/p90/
    // p99 from the stored log-bucketed histogram partials ([[ValueHist]]
    // — the HDR-histogram pattern). Unlike a quantile sketch, bucket
    // counts merge EXACTLY, so batch-partial order and compaction cannot
    // move the estimate; rel. error is the bucket half-width (≈2.5%) by
    // construction. Engine-specific representation → no DuckDB oracle;
    // RollupPctlSpec bounds the error vs exact nearest-rank percentiles
    // and pins compaction invariance. At 100 TB the query walks
    // O(buckets × hist-width) summary rows, never raw events.
    Entry.benchOnly("q183_rollup_percentiles") { (s, d) =>
      rollupPercentiles(s, drainedRollup(s, d))
    },

    // The rollup read AFTER compaction (bench-only): measure the live
    // O(buckets × batches) merge, fold every batch partition into
    // one via [[rollupCompact]], measure the compacted O(buckets) merge,
    // and REQUIRE the two results equal before returning — so the
    // O(buckets)-not-O(buckets × batches) claim carries a measured
    // wall-time number at sf0.1 (stderr), not just RollupReplaySpec's
    // test-scale invariance pin. Equality is exact on keys/counts/
    // min/max and histogram-tight on the double sums (compaction re-
    // associates double addition — the same tolerance the merge fold
    // already accepts; n adds exactly, min/max fold losslessly). At
    // 100 TB this is the maintenance step that keeps a year-old rollup
    // readable at summary cost: 10k batches of partials collapse to one
    // partition per retention window, and the query fold never sees the
    // batch count again. The entry CLONES the memoized drained rollup
    // (raw file copy — compaction mutates its input, and the pristine
    // artifact serves the sibling reads) instead of re-running the drain:
    // r16 diagnosis showed ~75% of the old wall was duplicated write-path
    // machinery whose JIT/scheduler noise, not the measured maintenance
    // step, drove the entry's round-to-round drift (2.77→3.42→3.17→4.77 s
    // while its own merges held at ~0.9 s).
    Entry.benchOnly("q183_rollup_compacted_read") { (s, d) =>
      val out = Staging.scratchDir("graft_rollup_cmp_out")
      graft.core.Fs.copyRecursively(
        new java.io.File(drainedRollup(s, d)), new java.io.File(out))
      def timed[A](f: => A): (A, Double) = {
        val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
      }
      def nParts: Int = Drain.batchIds(out).size
      val liveParts = nParts
      val (live, tLive) = timed(rollupMerge(s, out).collect().toSeq)
      rollupCompact(s, out, Long.MaxValue)
      val compactedParts = nParts
      val (compacted, tCompacted) = timed(rollupMerge(s, out).collect().toSeq)
      require(compacted.size == live.size, "compaction changed the bucket count")
      live.zip(compacted).foreach { case (a, b) =>
        require(a.get(0) == b.get(0) && a.get(1) == b.get(1), s"bucket key moved: $a vs $b")
        require(a.getLong(2) == b.getLong(2), s"count moved: $a vs $b")
        require(math.abs(a.getDouble(3) - b.getDouble(3)) <= 1e-3 &&
                a.getDouble(4) == b.getDouble(4) && a.getDouble(5) == b.getDouble(5) &&
                math.abs(a.getDouble(6) - b.getDouble(6)) <= 1e-5,
          s"compaction moved the merge result: $a vs $b")
      }
      System.err.println(
        f"[q183_rollup_compacted_read] merge read: live $liveParts%d-partition $tLive%.3f s -> compacted $compactedParts%d-partition $tCompacted%.3f s")
      rollupMerge(s, out)
    },

    // Incremental ANN-index maintenance — the vector-side sibling of
    // q158's shingle-index maintenance, and the write path every staged
    // ANN entry (q62_ann_ivf / ivf_pq, q148 semantic dedup) assumes:
    // VectorIndex.cells builds the (vec_id, rk, cell) posting table in
    // one batch pass; a production vector store maintains it as vectors
    // ARRIVE. Running machinery: each micro-batch assigns its vectors to
    // their top-2 probe cells against the BROADCAST staged coarse
    // quantizer (O(nlist) rows — centroids never shuffle, the corpus
    // batch moves once through one bounded groupBy) and writes the
    // posting rows into its own batch=<id> partition — deterministic
    // assignment makes replay-overwrite idempotent, the q183 posture.
    // VectorIndexMaintenanceSpec pins maintained == batch-built
    // row-for-row and replay invariance, so every staged-index consumer
    // is proven serveable from the incrementally-maintained artifact.
    // Estimator-free and deterministic, but the cell geometry comes from
    // k-means training no SQL oracle can replay → bench-only. At 100 TB:
    // arriving vectors are a trickle vs the corpus; each batch pays
    // O(batch x nlist) scoring + one batch-sized write, and centroid
    // refresh (retrain + full reassign) is the rare scheduled job ES-style
    // index rebuilds already model.
    Entry.benchOnly("q195_vector_index_maintenance") { (s, d) =>
      val src = stageQ195(s, d)
      val out = Staging.scratchDir("graft_vecidx_out")
      vecIndexDrain(s, d, src, out)
      s.read.parquet(out)
        .groupBy(col("cell"), col("rk"))
        .agg(count(lit(1)).cast("bigint").as("n_vectors"))
        .orderBy(col("cell"), col("rk"))
    },

    // Incremental MinHash-SIGNATURE maintenance — the last staged dedup
    // artifact without a running write path: q158 maintains the shingle
    // index and q195 the IVF postings, but TokenIndex.minhashSigs (the
    // q61/q231-band working set) was batch-built only. Running machinery:
    // each arriving micro-batch derives its documents' 64-perm signatures
    // (a doc's shingles are complete inside its own batch — docs never
    // span arrival files — so the per-batch min-fold IS the doc's final
    // signature; no cross-batch merge exists) and writes them into its
    // own batch=<id> partition — deterministic per doc, so replay
    // overwrite is idempotent (the q183 posture). The arrivals are the
    // SAME staged ingest feed q158 consumes: one corpus stream, multiple
    // index maintainers, exactly a production write path.
    // MinhashMaintenanceSpec pins maintained == TokenIndex.minhashSigs
    // row-for-row and replay invariance. Signature values are xxhash64
    // mins — engine-specific by design → bench-only. The declared read
    // serves the LSH tier from the MAINTAINED table: band-occupancy stats
    // through the shared minhashBandRows derivation (8 decision rows).
    // At 100 TB: per-batch work is O(arrived docs x 64) map-side + one
    // batch-keyed agg; the corpus-wide table is never rebuilt.
    Entry.benchOnly("q263_minhash_maintenance") { (s, d) =>
      val src = stageQ158(s, d)
      val out = Staging.scratchDir("graft_mhidx_out")
      minhashDrain(s, src, out)
      graft.text.Text.minhashBandRows(s.read.parquet(out),
          graft.text.Text.LshNumPerm, graft.text.Text.LshBands)
        .groupBy(col("band"))
        .agg(countDistinct(col("bucket")).as("n_buckets"),
             count(lit(1)).cast("bigint").as("n_docs"))
        .orderBy(col("band"))
    },

    // Incremental PQ-CODE maintenance — the compression-side sibling of
    // q195: the staged codes table (VectorIndex.pq, the 64x-smaller scan
    // every ADC query reads) gains its running write path. Arriving
    // vectors encode against the FROZEN staged codebook (broadcast m×ks
    // centroid rows — the corpus batch moves once through one bounded
    // min_by agg; the codebook never retrains on arrivals, FAISS's
    // add-after-train contract, with the rare scheduled retrain+re-encode
    // being the q195 centroid-refresh argument) into idempotent
    // batch=<id> partitions. The arrivals are the SAME staged feed q195
    // consumes: one vector stream, two index maintainers — postings AND
    // codes — exactly a production vector store's write fan-out.
    // PqCodeMaintenanceSpec pins maintained == VectorIndex.pq's
    // batch-encoded table row-for-row and replay invariance. Code values
    // are k-means-derived => engine-specific => bench-only. The declared
    // read serves the ADC tier from the MAINTAINED table: per-subspace
    // code occupancy (m×ks decision rows — quantizer health, the stats a
    // store watches for codebook drift). At 100 TB: per-batch work is
    // O(arrived vectors × m × ks) map-side scoring + one bounded agg;
    // the corpus-wide codes table is never rebuilt.
    Entry.benchOnly("q271_pq_code_maintenance") { (s, d) =>
      val src = stageQ195(s, d)
      val out = Staging.scratchDir("graft_pqcode_out")
      pqCodeDrain(s, d, src, out)
      s.read.parquet(out)
        .groupBy(col("sub"), col("code"))
        .agg(count(lit(1)).cast("bigint").as("n_vectors"))
        .orderBy(col("sub"), col("code"))
    }
  )

  /** The rollup's mergeable VALUE-DISTRIBUTION partial: an HDR-histogram
    * style log-bucketed count map (public pattern: Gil Tene's
    * HdrHistogram / Prometheus native histograms). Bucket k holds values
    * in [γ^k, γ^(k+1)) with γ = 1.05, so any value's bucket geometric
    * midpoint γ^(k+0.5) is within √γ − 1 ≈ 2.47% relative error; bucket
    * codes fold sign and a +20000 offset (doubles' ln range ±15270/ln γ)
    * into one INT so negatives, zero and sub-1 magnitudes never collide.
    * Unlike a quantile sketch, bucket counts merge EXACTLY (plain
    * addition), so partial-merge order and compaction cannot move the
    * estimate — the property RollupPctlSpec pins. */
  private[streaming] object ValueHist {
    val relErr: Double = math.sqrt(1.05) - 1   // bound used by the spec

    val bucketSql: String =
      """CAST(CASE WHEN value = 0D THEN 0
        |     WHEN value > 0D THEN 20000 + FLOOR(LN(value) / LN(1.05D))
        |     ELSE -(20000 + FLOOR(LN(-value) / LN(1.05D))) END AS INT)""".stripMargin

    def decodeSql(c: String): String =
      s"""CASE WHEN $c = 0 THEN 0D
         |     WHEN $c > 0 THEN POWER(1.05D, ($c - 20000) + 0.5D)
         |     ELSE -POWER(1.05D, (-($c) - 20000) + 0.5D) END""".stripMargin

    /** Additive map-merge over collected per-partial maps (O(partials)
      * per bucket — query- and compaction-time fold). */
    val mergeSql: String =
      """aggregate(collect_list(v_hist),
        |  cast(map() as map<int,bigint>),
        |  (acc, m) -> map_zip_with(acc, m,
        |    (k, a, b) -> coalesce(a, cast(0 as bigint)) + coalesce(b, cast(0 as bigint))))""".stripMargin
  }

  /** The drained rollup artifact, memoized per sf dir — the output the
    * continuously-running rollup job maintains in production. The three
    * read-side q183 entries serve queries FROM it (cardinality /
    * percentiles read it in place; compacted-read clones it before
    * mutating); only q183_rollup_job, whose subject IS the write path,
    * runs its own fresh drain. Prestaged untimed like the token index. */
  private[streaming] def drainedRollup(s: SparkSession, d: String): String =
    Staging.stagedDir(d, "events", "rollup_pristine")(
      rollupDrain(s, stageQ183(s, d), _))

  /** q183's job body: drain `src`, writing each micro-batch's PARTIAL
    * (day, event_type) aggregate into its own `batch=<id>` partition
    * under `out`. Fresh checkpoint per call — re-running over the same
    * arrivals (the lost-checkpoint worst case) re-derives the same batch
    * ids from the same ordered files and overwrites only its own
    * partitions, which is the idempotence RollupReplaySpec pins. The
    * value histogram rides as a second agg joined on the bucket key so
    * the classic columns' double-addition order is untouched (their 4dp
    * rounding tolerance stays exactly as before). */
  private[streaming] def rollupDrain(s: SparkSession, src: String, out: String): Unit =
    Drain.toBatchDirs(Drain.fileStream(s, src),
        Staging.scratchDir("graft_rollup_ckpt"), out) { batch =>
      val keys = Seq("day", "event_type")
      val bucketed = batch.select(
        date_trunc("day", col("ts")).cast("date").as("day"),
        col("event_type"), col("value"), col("user_id"))
      val base = bucketed.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
             min(col("value")).as("min_v"), max(col("value")).as("max_v"),
             // mergeable HLL sketch partial (DataSketches HLL_4): lets
             // the rollup serve DISTINCT-count queries without raw
             // scans — ES X-Pack rollup stores cardinality sketches
             // for exactly this reason. Binary column, unioned (never
             // estimated) until query time.
             hll_sketch_agg(col("user_id")).as("uid_hll"))
      val hist = bucketed
        .withColumn("bkt", expr(ValueHist.bucketSql))
        .groupBy((keys :+ "bkt").map(col): _*).agg(count(lit(1)).as("bn"))
        .groupBy(keys.map(col): _*)
        .agg(map_from_entries(collect_list(struct(col("bkt"), col("bn"))))
          .as("v_hist"))
      base.join(hist, keys)
    }

  /** The rollup-query merge fold: counts/sums add, mins/maxes fold,
    * avg = merged sum / merged count (why ES rollup stores sum+count). */
  private[streaming] def rollupMerge(s: SparkSession, out: String): DataFrame =
    s.read.parquet(out)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).cast("bigint").as("n"),
           round(sum(col("sum_v")), 4).as("sum_v"),
           round(min(col("min_v")), 6).as("min_v"),
           round(max(col("max_v")), 6).as("max_v"),
           round(sum(col("sum_v")) / sum(col("n")), 6).as("avg_v"))
      .orderBy(col("day"), col("event_type"))

  /** q195's job body: drain `src`, assigning each arriving batch's
    * vectors to their probe cells against the broadcast staged coarse
    * quantizer and writing (vec_id, rk, cell) posting rows into the
    * batch's own partition (deterministic assignment ⇒ replay-overwrite
    * idempotence; fresh checkpoint per call like [[rollupDrain]]). */
  private[streaming] def vecIndexDrain(s: SparkSession, d: String,
                                       src: String, out: String): Unit = {
    val cents = graft.vector.VectorIndex.ivfCents(s, d)
    Drain.toBatchDirs(Drain.fileStream(s, src), Staging.scratchDir("graft_vecidx_ckpt"),
      out)(graft.vector.Vectors.cellAssignmentsWith(_, cents))
  }

  /** q271's job body: drain `src`, encoding each arriving batch's vectors
    * against the FROZEN staged PQ codebook ([[graft.vector.VectorIndex.pq]]
    * — the same m×ks table every ADC consumer reads; arriving vectors
    * never retrain it, the FAISS add-after-train contract) into the
    * batch's own partition via the exact batch-build derivation
    * ([[graft.vector.Vectors.pqEncode]]: broadcast centroid table, one
    * bounded min_by agg — deterministic per vector, so replay-overwrite
    * is idempotent, the q183/q195 posture). Fresh checkpoint per call;
    * PqCodeMaintenanceSpec pins maintained == batch-encoded row-for-row
    * and replay invariance. */
  private[streaming] def pqCodeDrain(s: SparkSession, d: String,
                                     src: String, out: String): Unit = {
    val (cents, _) = graft.vector.VectorIndex.pq(s, d)
    Drain.toBatchDirs(Drain.fileStream(s, src), Staging.scratchDir("graft_pqcode_ckpt"),
      out)(graft.vector.Vectors.pqEncode(_, cents))
  }

  /** q263's job body: drain `src`, computing each arriving batch's
    * 64-perm MinHash signatures (shared [[graft.text.Text.arrivingShingles]]
    * → [[graft.text.Text.minhashSignatures]] chain — the exact batch-build
    * derivation) into the batch's own partition. Fresh checkpoint per
    * call like [[rollupDrain]]; idempotence pinned by
    * MinhashMaintenanceSpec. An in-row `array_min(transform(...))` fold
    * (no per-batch exchange) was tried in round 21 and REVERTED: the HOF
    * fold runs outside whole-stage codegen and measured slower at 8
    * cores (3.17 → 3.89 s min-of-3) and neutral at 32 — the codegen'd
    * min-aggregate beats the exchange it pays for (the exchange runs at
    * drain-narrowed parallelism over 8-byte rows). */
  private[streaming] def minhashDrain(s: SparkSession, src: String, out: String): Unit =
    Drain.toBatchDirs(Drain.fileStream(s, src), Staging.scratchDir("graft_mhidx_ckpt"),
        out) { batch =>
      graft.text.Text.minhashSignatures(
        graft.text.Text.arrivingShingles(batch), graft.text.Text.LshNumPerm)
    }

  /** The rollup-query cardinality fold: union the stored sketch binaries,
    * estimate ONCE over the merged sketch (estimating per-partial and
    * summing would overcount shared users across batches — the whole
    * point of storing the sketch, not the estimate). */
  private[streaming] def rollupCardinality(s: SparkSession, out: String): DataFrame =
    s.read.parquet(out)
      .groupBy(col("day"), col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("uid_hll"))).as("approx_users"),
           sum(col("n")).cast("bigint").as("n"))
      .orderBy(col("day"), col("event_type"))

  /** The rollup-query percentile fold: merge the stored histogram maps
    * additively, walk each bucket's CDF once (a window over O(hist
    * buckets) rows per group, never raw events), and read p50/p90/p99 as
    * the geometric midpoint of the first bucket whose cumulative count
    * reaches the nearest-rank threshold — rel. error ≤ √γ − 1 by
    * construction. This is the percentile sibling of
    * [[rollupCardinality]]: at 100 TB the query cost is
    * O(buckets × hist-width) summary rows. */
  private[streaming] def rollupPercentiles(s: SparkSession, out: String): DataFrame = {
    val merged = s.read.parquet(out)
      .groupBy(col("day"), col("event_type"))
      .agg(expr(ValueHist.mergeSql).as("v_hist"),
           sum(col("n")).cast("bigint").as("n"))
    val ex = merged
      .select(col("day"), col("event_type"), col("n"),
        explode(col("v_hist")).as(Seq("bkt", "cnt")))
      .withColumn("est", expr(ValueHist.decodeSql("bkt")))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("day"), col("event_type")).orderBy(col("est"))
    def pct(q: Double, name: String) =
      min(when(col("cum") >= ceil(col("n") * q), col("est"))).as(name)
    ex.withColumn("cum", sum(col("cnt")).over(w))
      .groupBy(col("day"), col("event_type"), col("n"))
      .agg(pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
      .select(col("day"), col("event_type"), col("n"),
              col("p50"), col("p90"), col("p99"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Rollup compaction — the partition-maintenance step a long-running
    * job needs so query cost stays O(buckets), not O(buckets x batches):
    * fold every batch partition at id < `upTo` into ONE compacted
    * partition holding their additively-merged partials (same raw
    * columns, so [[rollupMerge]] reads compacted and live partitions
    * identically; the compacted partition reuses the highest folded id).
    *
    * Crash safety is the standard write-ahead-rename protocol, pinned by
    * RollupReplaySpec: the fold lands FULLY in a dot-hidden staging dir
    * first (invisible to partition discovery; Spark's _SUCCESS marker is
    * the completed-write bit), inputs are deleted only after that, and
    * [[rollupRecover]] — run at every compaction entry — finishes or
    * discards a crashed attempt: staging WITH _SUCCESS re-drives the
    * deletes+rename (ids <= the staged target are by construction all
    * inputs of that fold), staging without is dropped untouched-inputs
    * intact. One compaction instance at a time, readers quiesced during
    * the commit window — the job-level serialization ES's rollup task
    * assumes. Min/max fold losslessly; n adds exactly; sum adds in
    * double, the same associativity tolerance the merge already accepts. */
  private[streaming] def rollupCompact(s: SparkSession, out: String, upTo: Long): Unit = {
    rollupRecover(out)
    compactWrite(s, out, upTo).foreach(compactCommit(out, _))
  }

  private def stagedDirOf(out: String): Option[java.io.File] =
    Option(new java.io.File(out).listFiles()).toSeq.flatten
      .find(_.getName.startsWith(".compact_tmp_batch="))

  /** Phase 1: fold all batch ids < upTo into `.compact_tmp_batch=<max>`.
    * Returns the target id; None when there is nothing to compact. */
  private[streaming] def compactWrite(s: SparkSession, out: String, upTo: Long): Option[Long] = {
    val batches = Drain.batchIds(out).filter(_ < upTo)
    if (batches.length < 2) None
    else {
      val folded = s.read.parquet(batches.map(b => s"$out/batch=$b"): _*)
        .groupBy(col("day"), col("event_type"))
        .agg(sum(col("n")).as("n"), sum(col("sum_v")).as("sum_v"),
             min(col("min_v")).as("min_v"), max(col("max_v")).as("max_v"),
             // sketch partials union losslessly (sketch-merge associativity
             // is the HLL analog of n's additivity)
             hll_union_agg(col("uid_hll")).as("uid_hll"),
             // histogram partials add exactly — compaction cannot move a
             // percentile estimate (RollupPctlSpec pins this)
             expr(ValueHist.mergeSql).as("v_hist"))
      folded.coalesce(1).write.mode("overwrite")
        .parquet(s"$out/.compact_tmp_batch=${batches.last}")
      Some(batches.last)
    }
  }

  /** Phase 2: delete the fold's inputs (every id <= target), then rename
    * the staged dir into place as `batch=<target>`. */
  private[streaming] def compactCommit(out: String, target: Long): Unit = {
    Drain.batchIds(out).filter(_ <= target)
      .foreach(b => graft.core.Fs.deleteRecursively(new java.io.File(s"$out/batch=$b")))
    Files.move(Paths.get(s"$out/.compact_tmp_batch=$target"),
               Paths.get(s"$out/batch=$target"))
  }

  /** Finish or discard a crashed compaction (see [[rollupCompact]]). */
  private[streaming] def rollupRecover(out: String): Unit =
    stagedDirOf(out).foreach { staged =>
      val target = staged.getName.stripPrefix(".compact_tmp_batch=").toLong
      if (new java.io.File(staged, "_SUCCESS").exists()) compactCommit(out, target)
      else graft.core.Fs.deleteRecursively(staged)
    }
}
