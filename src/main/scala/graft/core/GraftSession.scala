package graft.core

import org.apache.spark.sql.SparkSession

/** Session construction for the graft engine.
  *
  * One place pins every config the correctness contract depends on:
  *   - UTC session timezone (oracle parity with DuckDB),
  *   - LAST_WIN map-key dedup (the reference's last-write-wins per-field
  *     merge semantics, HbaseDataSyncEsObserver.java:74-79, relies on
  *     `map_concat`/`map_from_entries` keeping the *latest* duplicate),
  *   - AQE on (skew-join split + partition coalescing — the 100 TB posture),
  *   - TIMESTAMP_MICROS parquet output (so DuckDB/pyarrow read our dumps
  *     without INT96 legacy conversion),
  *   - shuffle partitions sized to the local core count, not 200.
  *
  * An extensions hook is reserved so later perf rules (e.g. rewrite exact
  * cosine top-k into an LSH candidate join) can be injected without
  * touching call sites (SURVEY.md §4.2).
  */
object GraftSession {

  /** Apply the engine's standard configs to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.extensions", "graft.functions.GraftExtensions")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    // Driver fixtures have carried events.ts as parquet TIMESTAMP(NANOS)
    // (rejected outright by the reader unless surfaced as epoch-nanos
    // LongType via the legacy conf) and, since the round-8 regeneration, as
    // tz-naive timestamp[us]. Pin BOTH reader behaviors so either fixture
    // generation loads deterministically: nanos → LongType (Tables floors
    // to µs), tz-naive µs → TimestampType directly (inferTimestampNTZ off;
    // in the UTC session the wall clock is identical to DuckDB's naive
    // read, so the hash contract is unaffected). Tables.normalizeTimestamps
    // additionally folds TIMESTAMP_NTZ if a caller session re-enables the
    // inference.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    .config("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    // The unrolled linear-recursion oracles (q226 BFS, q235/q236 Viterbi,
    // q241 EM backward walk) legitimately stack 30-45 chained CTEs; each
    // nesting level costs analyzer iterations, and the q241 twin crosses
    // the default cap of 100. The cap is a runaway-rule safety valve, not
    // a semantic bound — raise it for the SQL entry path.
    .config("spark.sql.analyzer.maxIterations", "400")
    .config("spark.ui.enabled", "false")

  /** Run `body` with `spark.sql.shuffle.partitions` temporarily set to `n`,
    * serializing callers PER SESSION: the setting is session-scoped, so an
    * unsynchronized save/set/restore interleaving between two drains on
    * the SAME session could restore a stale value and leave the session
    * mis-sized permanently. Locking on the session (not one global
    * monitor — r18 #3) lets drains on [[clonedSession]]s run genuinely
    * concurrently: each clone owns its SQLConf, so there is nothing
    * cross-session to protect. */
  private val confLocks = new java.util.WeakHashMap[SparkSession, Object]()
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    // WeakHashMap (guarded by its own monitor — Map.computeIfAbsent on a
    // synchronizedMap wrapper is NOT atomic) so sessions are not retained
    // for the JVM lifetime: a library caller cloning a session per
    // operation would otherwise leak one map entry per clone (r19 ADVICE)
    val lock = confLocks.synchronized {
      val existing = confLocks.get(spark)
      if (existing != null) existing
      else { val o = new Object; confLocks.put(spark, o); o }
    }
    lock.synchronized {
      val prev = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
  }

  /** Session-scoped confs the engine's correctness contract pins (the
    * `configure` list) — copied explicitly onto every clone instead of
    * relying on `newSession()` inheritance rules, so a clone can never
    * silently run with a non-UTC timezone or FIRST_WIN map dedup. */
  private val pinnedConfs = Seq(
    "spark.sql.session.timeZone", "spark.sql.mapKeyDedupPolicy",
    "spark.sql.adaptive.enabled", "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.outputTimestampType",
    "spark.sql.streaming.noDataMicroBatches.enabled",
    "spark.sql.analyzer.maxIterations", "spark.sql.shuffle.partitions")

  /** An isolated session sharing `spark`'s SparkContext (same executors,
    * same cached blocks) with its OWN SQLConf/temp-view space — the unit
    * of isolation for concurrent harness drains (r18 #3): per-clone
    * shuffle-partition overrides proceed in parallel instead of
    * serializing on a shared conf. */
  def clonedSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    pinnedConfs.foreach(k => ss.conf.set(k, spark.conf.get(k)))
    ss
  }

  /** Local session for tests / ad-hoc runs. */
  def local(cores: Int = 32, extra: Map[String, String] = Map.empty): SparkSession = {
    var b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
    b = configure(b)
    extra.foreach { case (k, v) => b = b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
