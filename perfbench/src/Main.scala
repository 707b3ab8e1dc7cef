package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.core.GraftSession
import graft.ingest.Ingest
import graft.model.ChangeLog
import graft.queries.{Entry, QueryString}
import graft.sync.DocSync

/** A workload: the change log's shape and how it is sent. The query client
  * runs after the writes, then the entry sample, for the rest of the run.
  *
  * @param rate      open-loop events/s; 0 = closed loop of `batch`-event batches
  * @param compactEvery closed loop only: compact after every n-th batch */
final case class Workload(name: String, spec: GenSpec, rate: Double, batch: Int,
                          compactEvery: Int, warmEvents: Int, triggerMs: Long)

object Workloads {
  val all: Map[String, Workload] = Seq(
    // open loop far below capacity, small Zipf-skewed table, 2 s trigger:
    // each batch carries a few dozen keys and dirties part of the buckets,
    // so the per-trigger floor dominates each commit
    Workload("sync_trickle", GenSpec(keys = 5000, zipf = 1.1, pDelete = 0.05,
      pPartial = 0.4, vocab = 500), rate = 15, batch = 0, compactEvery = 0,
      warmEvents = 300, triggerMs = 2000),
    // closed-loop drain of wide batches into a larger uniform table: every
    // commit dirties every bucket, so state read and rewrite dominate
    Workload("sync_bulk_wide", GenSpec(keys = 80000, zipf = 0, pDelete = 0.02,
      pPartial = 0.2, vocab = 2000), rate = 0, batch = 1000, compactEvery = 3,
      warmEvents = 1000, triggerMs = 0)
  ).map(w => w.name -> w).toMap
}

/** Events sent in one `addData` call (one source offset). */
final case class Sent(offset: Long, firstSeq: Long, events: Array[Event], sentMs: Double)

/** One query as the client saw it; `result` is compared with the replay. */
/** One run of a sampled entry; `pass` -1 is the warm-up. */
final case class MixRun(pass: Int, layer: String, entry: Entry, s: Double, cols: Seq[String],
                        rows: Seq[Row], error: Option[String])

final case class QRec(id: String, kind: String, text: String, version: Long, base: Long,
                      startMs: Double, endMs: Double, compileMs: Double,
                      phases: Seq[(String, Long, Long)], hits: Long, result: Any,
                      error: Option[String]) {
  def ms: Double = endMs - startMs
  def planMs: Double = phases.map { case (_, a, b) => (b - a).toDouble }.sum
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.all.getOrElse(a("workload"),
      sys.error(s"unknown workload ${a("workload")}; known: ${Workloads.all.keys.mkString(", ")}"))
    val run = new Run(wl, a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("work"), a("tracedir"), a("cores").toInt)
    val out = run.execute()
    println(out)
  }
}

/** Everything one benchmark run does: set up from nothing through the
  * warm-ups, measure, check against the replay, report. */
final class Run(wl: Workload, seed: Long, seconds: Double, traced: Boolean, work: String,
                traceDir: String, cores: Int) {
  import Clock.nowMs
  private val NumBuckets = 16
  /** Shares of the run's seconds given to the writes and to the query
    * client; the entry sample gets the rest. */
  private val SyncShare = 0.5
  private val QueryShare = 0.2
  /** Start of the set-up: `setup_s` runs from here, session start
    * included, to the end of the warm-ups. */
  private val setupStart = nowMs

  private val spark: SparkSession = GraftSession.local(cores, Map(
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse"))
  private val probe = Probe.install(spark)
  private val trace = new Trace
  private val mix = new Mix(spark, s"$work/tables", seed)

  // ---- state of the live (last) setup ----
  private var stateDir = ""
  private var gen: Gen = _
  private val log = mutable.ArrayBuffer.empty[Event]         // every event, seq order
  private val sent = new ConcurrentLinkedQueue[Sent]()        // stream sends, offset order
  private var ms: MemoryStream[String] = _
  private var query: StreamingQuery = _
  private var preloadCount = 0L
  private val versionPrefix = mutable.Map.empty[Long, Long]  // version -> events applied
  private val versionOfOffset = mutable.Map.empty[Long, Long] // batch end offset -> version
  private var failures = 0L
  private var attempted = 0L
  private val notes = mutable.ArrayBuffer.empty[String]

  private def fail(msg: String): Unit = { failures += 1; notes += msg }

  // ---------------------------------------------------------------- setup

  /** Preload the table through the batch writer into a fresh state dir. */
  private def preload(): Unit = {
    stateDir = s"$work/state"
    gen = new Gen(wl.spec, seed)
    log ++= gen.preload()
    preloadCount = log.length
    DocSync.mergeBatch(spark, Gen.preloadFrame(spark, wl.spec, seed), stateDir, NumBuckets)
    versionPrefix(StateWalk(stateDir).maxVersion) = preloadCount
  }

  /** Start the sync stream on the preloaded table and push warm-up batches
    * through it, so the stream path is compiled before timing. */
  private def startStream(): Unit = {
    ms = MemoryStream[String](spark, cores)(Encoders.STRING)
    val cfg = Ingest.SyncConfig(sourceDir = "<memory>", stateDir = stateDir,
      checkpointDir = s"$work/checkpoint",
      trigger = Trigger.ProcessingTime(wl.triggerMs), numBuckets = NumBuckets)
    query = Ingest.startFrom(spark, ChangeLog.fromJsonValues(ms.toDF()), cfg)
    // two batches: the first after a cold start still runs slower than
    // the ones that follow
    for (_ <- 1 to 2) {
      val warm = Array.fill(wl.warmEvents)(gen.next(nowMs))
      if (!sendAndAwait(warm, 120000)) sys.error("warm-up batch never committed")
      versionPrefix(StateWalk(stateDir).maxVersion) = log.length
    }
  }

  private def send(evs: Array[Event]): Sent = {
    val js = evs.map(_.json)
    val off = ms.addData(js.toIndexedSeq).json.toLong
    val s = Sent(off, evs.head.seq, evs, nowMs)
    log ++= evs
    sent.add(s)
    s
  }

  private def mine(p: StreamingQueryProgress): Boolean = p.runId == query.runId
  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p.sources.head.endOffset).map(_.toLong).getOrElse(-1L)

  private def sendAndAwait(evs: Array[Event], timeoutMs: Long): Boolean = {
    val s = send(evs)
    probe.awaitProgress(timeoutMs)(p => mine(p) && endOffset(p) >= s.offset)
  }

  private def stopStream(): Unit = if (query != null) { query.stop(); query.awaitTermination() }

  // ------------------------------------------------------------ the run

  private var setupS = 0.0
  private val compactMs = mutable.ArrayBuffer.empty[Double]
  private val walks = mutable.ArrayBuffer.empty[StateWalk]
  private val qrecs = new ConcurrentLinkedQueue[QRec]()
  private val warmQrecs = new ConcurrentLinkedQueue[QRec]()   // checked, not measured
  /** Entry-sample runs; pass -1 is the warm-up, checked but not measured. */
  private val mixRuns = mutable.ArrayBuffer.empty[MixRun]
  private var t0, tEnd = 0.0
  private var before, after: Totals = _
  private var storageAmp = 0.0
  private var peakRss = 0.0

  /** Run one step of the run and keep it as a span of the `run` layer. */
  private def step[T](name: String)(body: => T): T = {
    val s = nowMs
    try body finally trace.add(s"run.$name", s, nowMs, 0, name)
  }

  def execute(): String = {
    trace.add("run.session", setupStart, nowMs, 0, "session")
    step("preload")(preload())
    step("tables")(mix.writeTables())
    step("stream_warmup")(startStream())
    val firstTimedOffset = sent.asScala.map(_.offset).maxOption.getOrElse(-1L) + 1
    val qrng = new java.util.Random(seed * 7919 + 1)
    val client = new QueryClient(qrng)
    // compile the query and entry paths before timing: one query of every
    // kind and search template, one pass over the entry sample (checked,
    // not measured)
    step("query_warmup")(client.warmUp())
    step("mix_warmup")(mixPass(-1))
    setupS = (nowMs - setupStart) / 1000.0

    // a processing-time trigger fires on wall-clock multiples of its
    // interval: start the open loop just after one, so that every batch
    // carries one interval's events, however the set-up ended
    if (wl.rate > 0) Thread.sleep((wl.triggerMs + 100 - System.currentTimeMillis() % wl.triggerMs) %
      wl.triggerMs)
    before = probe.totals
    t0 = nowMs
    val syncMs = seconds * 1000 * SyncShare
    if (wl.rate > 0) {
      openLoop(syncMs)
      val last = sent.asScala.map(_.offset).max
      if (!probe.awaitProgress(60000)(p => mine(p) && endOffset(p) >= last))
        fail("trickle backlog did not drain within 60 s")
    } else closedLoop(t0 + syncMs)
    tEnd = nowMs   // writes done and visible
    client.loop(tEnd + seconds * 1000 * QueryShare)
    val tQueriesEnd = nowMs
    after = probe.totals
    stopStream()
    mixLoop(t0 + seconds * 1000)
    peakRss = Probe.peakRssMb

    val timed = probe.progress.asScala.toSeq.filter(p => mine(p) && p.numInputRows > 0 &&
      endOffset(p) >= firstTimedOffset)
    if (wl.rate > 0) mapStreamVersions()
    val walk = StateWalk(stateDir)
    walks += walk
    // the value right after each of the first two timed commits, averaged:
    // a fixed point of the compaction cycle, whatever the host's speed
    storageAmp = mean(committed(timed).take(2).map { case (_, v, w) =>
      w.versions.filter(_.id <= v.id).map(_.bytes).sum.toDouble / w.liveBytes(v.id) })
    val pinned = pinnedVersion(walk)

    // untimed checks, then the end-of-run maintenance compaction
    val pinnedSig = step("check_tables") { Sig.ofTable(DocSync.snapshot(spark, stateDir, pinned, NumBuckets)) }
    compact()
    val finalSig = step("check_tables") { Sig.ofTable(DocSync.docTable(spark, stateDir, NumBuckets)) }
    step("check_replay")(check(pinned, pinnedSig, finalSig))
    step("check_mix")(checkMix())

    val probes = if (traced) step("probes")(moduleProbes(timed)) else Nil
    attempted += timed.size + qrecs.size + warmQrecs.size + mixRuns.size
    val (e2e, speed) = endToEnd(timed, tQueriesEnd)
    val layers = if (traced) speed ++ perLayer(timed, probes) else Nil
    val res = if (traced) layers else e2e
    writeRecord(timed, e2e ++ speed, layers)
    System.err.println(s"[perfbench] ${wl.name} seed=$seed batches=${timed.size} " +
      s"queries=${qrecs.size} entry passes=${passes.size} events=${log.length - preloadCount} " +
      s"setup_s=$setupS failures=$failures steps " + trace.all.filter(_.layer == "run")
        .map(s => f"${s.name.drop(4)}=${s.ms / 1000}%.1f").mkString(" ") + " " +
      notes.take(5).mkString("; "))
    spark.stop()
    val metrics = res.map { case (k, (v, u)) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": ${failures == 0}, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failures, "metrics": {$metrics}}"""
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Open loop: events are due at `rate`/s from `t0` regardless of how the
    * system keeps up; each tick sends every event that has come due. */
  private def openLoop(durMs: Double): Unit = {
    val gap = 1000.0 / wl.rate
    var i = 0L
    while (t0 + i * gap < t0 + durMs) {
      val now = nowMs
      val due = mutable.ArrayBuffer.empty[Event]
      while (t0 + i * gap <= now && t0 + i * gap < t0 + durMs) {
        due += gen.next(t0 + i * gap); i += 1
      }
      if (due.nonEmpty) send(due.toArray)
      Thread.sleep(5)
    }
  }

  /** Closed loop: the next batch is due when the previous one committed (and
    * any scheduled compaction finished); at least two batches. */
  private def closedLoop(until: Double): Unit = {
    var n = 0
    while (nowMs < until || n < 2) {
      val due = nowMs
      val evs = Array.fill(wl.batch)(gen.next(due))
      val s = send(evs)
      if (!probe.awaitProgress(120000)(p => mine(p) && endOffset(p) >= s.offset)) {
        fail("bulk batch never committed"); return
      }
      val w = StateWalk(stateDir)
      walks += w
      versionPrefix(w.maxVersion) = log.length
      versionOfOffset(s.offset) = w.maxVersion
      n += 1
      if (wl.compactEvery > 0 && n % wl.compactEvery == 0) compact()
    }
  }

  private def compact(): Unit = {
    val s = nowMs
    spark.sparkContext.setLocalProperty(Probe.SpanKey, s"compact-${compactMs.size}")
    DocSync.compact(spark, stateDir, NumBuckets)
    spark.sparkContext.setLocalProperty(Probe.SpanKey, null)
    compactMs += nowMs - s
    trace.add("sync.compact", s, nowMs, 0, s"compact-${compactMs.size - 1}")
    val w = StateWalk(stateDir)
    walks += w
    versionPrefix(w.maxVersion) = log.length
  }

  /** One pass over the entry sample; each entry's jobs run under its span. */
  private def mixPass(pass: Int): Unit = mix.sample.foreach { case (layer, e) =>
    val key = s"${e.name}-$pass"
    val s = nowMs
    spark.sparkContext.setLocalProperty(Probe.SpanKey, key)
    val r = try {
      val (sec, cols, rows) = mix.run(e)
      MixRun(pass, layer, e, sec, cols, rows, None)
    } catch {
      case ex: Exception => MixRun(pass, layer, e, Double.NaN, Nil, Nil, Some(ex.toString))
    } finally spark.sparkContext.setLocalProperty(Probe.SpanKey, null)
    trace.add(s"$layer.entry", s, nowMs, 0, key)
    mixRuns += r
  }

  /** Whole passes until `until`, at least one. */
  private def mixLoop(until: Double): Unit = {
    var pass = 0
    do { mixPass(pass); pass += 1 } while (nowMs < until)
  }

  /** Timed passes that ran every entry without error. */
  private def passes: Seq[Seq[MixRun]] =
    mixRuns.toSeq.filter(_.pass >= 0).groupBy(_.pass).toSeq.sortBy(_._1).map(_._2)
      .filter(p => p.size == mix.sample.size && p.forall(_.error.isEmpty))

  /** Each entry's runs against its `spark.sql` twin, evaluated once. */
  private def checkMix(): Unit = mixRuns.groupBy(_.entry.name).foreach { case (name, runs) =>
    runs.filter(_.error.nonEmpty).foreach(r => fail(s"$name pass ${r.pass} threw ${r.error.get}"))
    val (cols, rows) = mix.twin(runs.head.entry)
    runs.filter(_.error.isEmpty).foreach { r =>
      if (r.cols != cols || r.rows != rows) fail(s"$name pass ${r.pass} differs from its spark.sql twin")
    }
  }

  /** Each data batch of the stream commits exactly one version, allocated
    * as the next id; map the batches after the warm-up to their versions. */
  private def mapStreamVersions(): Unit = {
    val base = versionPrefix.keys.max
    val batches = probe.progress.asScala.toSeq.filter(p => mine(p) && p.numInputRows > 0)
      .sortBy(_.batchId)
    val after = batches.filter(p => endOffset(p) > sentBefore(base))
    val upTo = prefixByOffset
    after.zipWithIndex.foreach { case (p, i) =>
      versionPrefix(base + 1 + i) = upTo(endOffset(p))
      versionOfOffset(endOffset(p)) = base + 1 + i
    }
    val maxV = StateWalk(stateDir).maxVersion
    if (maxV != base + after.size)
      fail(s"version ids do not follow the batches: max v$maxV, expected v${base + after.size}")
  }

  /** Each timed batch with the version it committed and the first walk
    * that saw that version. */
  private def committed(timed: Seq[StreamingQueryProgress])
      : Seq[(StreamingQueryProgress, Version, StateWalk)] =
    timed.sortBy(_.batchId).flatMap { p =>
      for {
        vid <- versionOfOffset.get(endOffset(p))
        w <- walks.find(_.versions.exists(_.id == vid))
      } yield (p, w.versions.find(_.id == vid).get, w)
    }

  /** Highest source offset whose events are in version `v` (by prefix). */
  private def sentBefore(v: Long): Long = {
    val n = versionPrefix(v)
    sent.asScala.filter(s => s.firstSeq + s.events.length <= n).map(_.offset).maxOption
      .getOrElse(-1L)
  }

  /** Events applied once every offset `<= o` is in. */
  private lazy val prefixByOffset: Map[Long, Long] =
    sent.asScala.toSeq.sortBy(_.offset)
      .map(s => s.offset -> (s.firstSeq + s.events.length)).toMap

  /** The snapshot the checks pin: the middle committed version, so newer
    * versions exist beside it. */
  private def pinnedVersion(w: StateWalk): Long = {
    val vs = w.versions.map(_.id).filter(versionPrefix.contains)
    vs(vs.size / 2)
  }

  // ---------------------------------------------------------- query client

  private final class QueryClient(rng: java.util.Random) {
    private var n = 0

    /** Full rounds of the mix until `until`, at least one. */
    def loop(until: Double): Unit =
      do QueryClient.Kinds.foreach { k => qrecs.add(one(k, rng.nextInt(4))); n += 1 }
      while (nowMs < until)

    def warmUp(): Unit = {
      (0 until 4).foreach(t => { warmQrecs.add(one("search", t)); n += 1 })
      QueryClient.Kinds.drop(1).foreach(k => { warmQrecs.add(one(k, 0)); n += 1 })
    }

    private def fields: Map[String, QueryString.FieldRef] = Map(
      "title" -> tok("title"), "status" -> tok("status"), "color" -> tok("color"),
      "note" -> tok("note"), "owner" -> tok("owner"),
      "n" -> QueryString.NumField(element_at(col("doc"), "n").cast("double")))
    private def tok(f: String) =
      QueryString.TokenField(graft.text.Text.tokens(element_at(col("doc"), f)))

    private def searchText(template: Int): String = template match {
      case 0 => s"status:s${rng.nextInt(8)} AND color:c${rng.nextInt(16)}"
      case 1 => s"title:t${rng.nextInt(wl.spec.vocab)} OR note:t${rng.nextInt(wl.spec.vocab)}"
      case 2 =>
        val lo = rng.nextInt(900)
        s"status:s${rng.nextInt(8)} AND n:[$lo TO ${lo + 100}]"
      case _ => s"title:t${rng.nextInt(wl.spec.vocab)} AND NOT color:c${rng.nextInt(16)}"
    }

    def one(kind: String, template: Int): QRec = {
      val id = s"q$n"
      val text = kind match {
        case "search"    => searchText(template)
        case "terms_agg" => s"status:s${rng.nextInt(8)}"
        case "get"       => gen.keyOf(rng.nextInt(wl.spec.keys))
        case _           => ""
      }
      val w = StateWalk(stateDir)
      val v = w.maxVersion
      val base = w.versions.head.id
      val start = nowMs
      spark.sparkContext.setLocalProperty(Probe.SpanKey, id)
      var compileMs = 0.0
      var df: DataFrame = null
      try {
        val snap = DocSync.snapshot(spark, stateDir, v, NumBuckets)
        def compiled(q: String) = {
          val c0 = nowMs
          val (pred, _) = QueryString.compile(QueryString.parse(q), fields, "title")
          compileMs = nowMs - c0
          pred
        }
        val (hits, result) = kind match {
          case "search" =>
            df = snap.filter(compiled(text)).select("rowKey")
            val keys = df.collect().map(_.getString(0)).sorted
            (keys.length.toLong, keys.toSeq)
          case "terms_agg" =>
            df = snap.filter(compiled(text))
              .groupBy(element_at(col("doc"), "color").as("color")).count()
            val m = df.collect().map(r => Option(r.getString(0)).getOrElse("") -> r.getLong(1)).toMap
            (m.size.toLong, m)
          case "get" =>
            df = snap.filter(col("rowKey") === text).select("doc")
            val d = df.collect().headOption.map(_.getMap[String, String](0).toMap)
            (d.size.toLong, d)
          case _ =>
            def canon(s: DataFrame, c: String) =
              s.select(col("rowKey"), array_sort(map_entries(col("doc"))).as(c))
            df = canon(DocSync.snapshot(spark, stateDir, base, NumBuckets), "a")
              .join(canon(snap, "b"), Seq("rowKey"), "full")
              .filter(!(col("a") <=> col("b"))).groupBy().count()
            val c = df.collect().head.getLong(0)
            (c, c)
        }
        val phases = df.queryExecution.tracker.phases.toSeq.map { case (k, p) =>
          (k, p.startTimeMs, p.endTimeMs) }
        QRec(id, kind, text, v, base, start, nowMs, compileMs, phases, hits, result, None)
      } catch {
        case e: Exception =>
          QRec(id, kind, text, v, base, start, nowMs, compileMs, Nil, 0, null,
            Some(e.toString))
      } finally spark.sparkContext.setLocalProperty(Probe.SpanKey, null)
    }
  }

  private object QueryClient {
    val Kinds = Array("search", "terms_agg", "get", "snapshot_diff")
  }

  // --------------------------------------------------------------- checks

  /** Replay the whole log once, in seq order, and at each version's prefix
    * compare what the program returned for that version. */
  private def check(pinned: Long, pinnedSig: Sig, finalSig: Sig): Unit = {
    val byPrefix = mutable.Map.empty[Long, mutable.ArrayBuffer[() => Unit]]
    def at(n: Long)(f: => Unit): Unit = byPrefix.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += (() => f)
    val replay = new Replay
    val bases = mutable.Map.empty[Long, Map[String, Map[String, String]]]

    at(versionPrefix(pinned)) {
      val want = replay.signature
      if (want != pinnedSig) fail(s"pinned snapshot v$pinned: got $pinnedSig want $want")
    }
    val qs = qrecs.asScala.toSeq ++ warmQrecs.asScala.toSeq
    qs.filter(_.error.nonEmpty).foreach(q => fail(s"${q.id} ${q.kind} threw ${q.error.get}"))
    val ok = qs.filter(_.error.isEmpty)
    ok.map(_.base).distinct.foreach { b =>
      at(versionPrefix(b)) { bases(b) = replay.docs.iterator.map { case (k, d) => k -> d.toMap }.toMap }
    }
    ok.foreach { q =>
      versionPrefix.get(q.version) match {
        case None => fail(s"${q.id} pinned v${q.version}, which no batch committed")
        case Some(n) => at(n) {
          val want = expected(q, replay, bases)
          if (want != q.result) fail(s"${q.id} ${q.kind} '${q.text}' on v${q.version} differs from the replay")
        }
      }
    }
    var applied = 0L
    byPrefix.keys.toSeq.sorted.foreach { n =>
      while (applied < n) { replay(log(applied.toInt)); applied += 1 }
      byPrefix(n).foreach(_())
    }
    while (applied < log.length) { replay(log(applied.toInt)); applied += 1 }
    val want = replay.signature
    if (want != finalSig) fail(s"final table: got $finalSig want $want")
    attempted += 2
  }

  /** Whether the analyzer (lower-case, split on anything but `[a-z0-9]`)
    * yields token `t` from `v`; a char loop, since it runs per doc per query. */
  private def hasToken(v: String, t: String): Boolean = {
    var i = 0
    var found = false
    while (i < v.length && !found) {
      var j = i
      while (j < v.length && { val c = Character.toLowerCase(v.charAt(j))
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') }) j += 1
      if (j - i == t.length && v.regionMatches(true, i, t, 0, t.length)) found = true
      i = j + 1
    }
    found
  }

  /** The query evaluated over the replayed docs in plain Scala. */
  private def expected(q: QRec, replay: Replay,
                       bases: mutable.Map[Long, Map[String, Map[String, String]]]): Any = {
    def has(d: collection.Map[String, String], f: String, t: String) = d.get(f).exists(hasToken(_, t))
    val And = """(\w+):(\w+) AND (\w+):(\w+)""".r
    val Or = """(\w+):(\w+) OR (\w+):(\w+)""".r
    val AndNot = """(\w+):(\w+) AND NOT (\w+):(\w+)""".r
    val Range = """(\w+):(\w+) AND (\w+):\[(\d+) TO (\d+)\]""".r
    val Term = """(\w+):(\w+)""".r
    def matches(text: String, d: collection.Map[String, String]): Boolean = text match {
      case And(f1, t1, f2, t2)    => has(d, f1, t1) && has(d, f2, t2)
      case Or(f1, t1, f2, t2)     => has(d, f1, t1) || has(d, f2, t2)
      case AndNot(f1, t1, f2, t2) => has(d, f1, t1) && !has(d, f2, t2)
      case Range(f1, t1, f2, lo, hi) => has(d, f1, t1) &&
        d.get(f2).map(_.toDouble).exists(x => x >= lo.toDouble && x <= hi.toDouble)
      case Term(f, t) => has(d, f, t)
    }
    q.kind match {
      case "search" =>
        replay.docs.iterator.filter { case (_, d) => matches(q.text, d) }
          .map(_._1).toSeq.sorted
      case "terms_agg" =>
        replay.docs.valuesIterator.filter(d => matches(q.text, d))
          .map(_.getOrElse("color", "")).toSeq.groupMapReduce(identity)(_ => 1L)(_ + _)
      case "get" => replay.docs.get(q.text).map(_.toMap)
      case _ =>
        val b = bases(q.base)
        val keys = b.keySet ++ replay.docs.keySet
        keys.count(k => b.get(k) != replay.docs.get(k).map(_.toMap)).toLong
    }
  }

  // -------------------------------------------------------------- metrics

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * (n-10)-th smallest of n samples; the median when n <= 20. */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n <= 20) (median(xs), 50.0)
    else (s(n - 11), 100.0 * (n - 10) / n)
  }

  /** Query latency samples: the mean latency of one query in each full
    * round of the client's mix (one query of every kind). The kinds differ
    * in cost, so a plain median over single queries would jump between
    * them as the round count shifts. */
  private def roundMeans(qs: Seq[QRec]): Seq[Double] = {
    val full = qs.sortBy(_.startMs).grouped(QueryClient.Kinds.length)
      .filter(_.size == QueryClient.Kinds.length).toSeq
    (if (full.nonEmpty) full else Seq(qs)).map(r => r.map(_.ms).sum / r.size / 1000.0)
  }

  /** How late the generator handed each timed event over, in seconds. */
  private def lateness: Seq[Double] =
    sent.asScala.toSeq.filter(_.events.head.dueMs >= t0)
      .flatMap(s => s.events.map(e => (s.sentMs - e.dueMs) / 1000.0))

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
  /** End of the commit, on the benchmark's clock: progress times are wall
    * clock, so they are shifted by the wall-to-benchmark clock offset read
    * when the progress event arrived. */
  private def visibleMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      dur(p, "triggerExecution") - dur(p, "commitOffsets") + probe.clockOffset(p)

  /** (end-to-end metrics, user-visible speed metrics) */
  private def endToEnd(timed: Seq[StreamingQueryProgress], tQueriesEnd: Double)
      : (Seq[(String, (Double, String))], Seq[(String, (Double, String))]) = {
    val timedSent = sent.asScala.toSeq.filter(_.events.head.dueMs >= t0)
    val visAt = timed.sortBy(_.batchId).map(p => endOffset(p) -> visibleMs(p))
    def visibleOf(off: Long): Double = visAt.find(_._1 >= off).map(_._2).getOrElse(Double.NaN)
    val lags = timedSent.flatMap { s =>
      val v = visibleOf(s.offset); s.events.map(e => (v - e.dueMs) / 1000.0) }
    val lastVisible = timedSent.map(s => visibleOf(s.offset)).maxOption.getOrElse(tEnd)
    val nEvents = timedSent.map(_.events.length).sum
    val commits = timed.map(p => dur(p, "triggerExecution") / 1000.0)
    val qs = qrecs.asScala.toSeq.filter(_.error.isEmpty)
    val qSpan = (qs.map(_.endMs).maxOption.getOrElse(tQueriesEnd) -
      qs.map(_.startMs).minOption.getOrElse(t0)) / 1000.0
    val (lt, ltp) = tail(lags)
    val rounds = roundMeans(qs)
    System.err.println(f"[perfbench] tails: lag p$ltp%.1f of ${lags.size}; query rounds ${rounds.size}; " +
      "commits " + commits.map(c => f"$c%.2f").mkString(" ") + "; entry passes " +
      passes.map(p => f"${p.map(_.s).sum}%.2f").mkString(" ") + "; compact ms " +
      compactMs.map(c => f"$c%.0f").mkString(" ") + "; batch ms " + Seq("triggerExecution", "addBatch", "walCommit", "queryPlanning", "latestOffset",
        "getBatch", "commitOffsets").map(k => s"$k=${median(timed.map(dur(_, k)))}").mkString(" "))
    val e2e = Seq(
      "setup_s" -> (setupS, "s"),
      "storage_amp" -> (storageAmp, "ratio"),
      "peak_rss_mb" -> (peakRss, "MiB"))
    // throughput and latencies: what a user sees, but on a shared host their
    // run-to-run spread is wider than any bound an end-to-end metric may
    // carry, so they are reported with the per-layer set
    val speed = Seq(
      "ingest.events_per_s" -> (nEvents / ((lastVisible - t0) / 1000.0), "1/s"),
      "ingest.visible_lag_p50_s" -> (median(lags), "s"),
      "ingest.visible_lag_tail_s" -> (lt, "s"),
      "queries.round_p50_s" -> (median(rounds), "s"),
      "mix_pass_s" -> (median(passes.map(_.map(_.s).sum)), "s"),
      "queries.per_s" -> (qs.size / qSpan, "1/s"))
    (e2e, speed)
  }

  /** The events of one stream batch, from the generator's send log. */
  private def eventsOf(p: StreamingQueryProgress): Seq[Event] = {
    val lo = Option(p.sources.head.startOffset).map(_.toLong).getOrElse(-1L)
    sent.asScala.toSeq.filter(s => s.offset > lo && s.offset <= endOffset(p)).flatMap(_.events)
  }

  /** Time two module calls on their own, over up to eight timed batches'
    * events: `ChangeLog.fromJsonValues` and `DocSync.foldIncrement`, each
    * materialized. Traced runs only, after the timed phase, so the probes do
    * not load the measured run. Returns (decode s, fold s) per batch. */
  private def moduleProbes(timed: Seq[StreamingQueryProgress]): Seq[(Double, Double)] = {
    import spark.implicits._
    def timedSpan(name: String, key: String)(body: => Unit): Double = {
      val s = nowMs
      spark.sparkContext.setLocalProperty(Probe.SpanKey, key)
      try body finally spark.sparkContext.setLocalProperty(Probe.SpanKey, null)
      val e = nowMs
      trace.add(name, s, e, 0, key)
      (e - s) / 1000.0
    }
    timed.sortBy(_.batchId).take(8).map { p =>
      val wire = eventsOf(p).map(_.json).toDF("value").repartition(cores).cache()
      wire.count()
      val decodeS = timedSpan("model.decode", s"decode-${p.batchId}") {
        ChangeLog.fromJsonValues(wire).write.format("noop").mode("overwrite").save()
      }
      val decoded = ChangeLog.fromJsonValues(wire).cache()
      decoded.count()
      val foldS = timedSpan("sync.fold", s"fold-${p.batchId}") {
        DocSync.foldIncrement(decoded).write.format("noop").mode("overwrite").save()
      }
      decoded.unpersist(); wire.unpersist()
      (decodeS, foldS)
    }
  }

  private def jobsOf(batchId: Long): Seq[JobRec] =
    probe.jobRecs.asScala.toSeq.filter(_.batchId.contains(batchId))

  /** State read, merge and rewrite of one batch: from the start of its
    * first job that scans the table's files to the end of its last job
    * that writes the new version. */
  private def rewriteS(p: StreamingQueryProgress): Double = {
    val js = jobsOf(p.batchId)
    val from = js.filter(_.fileStageMs > 0).map(_.startMs).minOption
    val to = js.filter(_.recordsWritten > 0).map(_.endMs).maxOption
    (for (a <- from; b <- to) yield (b - a) / 1000.0).getOrElse(0.0)
  }

  private def perLayer(timed: Seq[StreamingQueryProgress], probes: Seq[(Double, Double)])
      : Seq[(String, (Double, String))] = {
    val d = after - before
    val units = math.max(1, timed.size + qrecs.size)
    val qs = qrecs.asScala.toSeq.filter(_.error.isEmpty)
    val jobsByQuery = probe.jobRecs.asScala.toSeq.groupBy(_.span.getOrElse(""))
    // versions committed by timed batches, each with the live set before it
    val timedVersions = committed(timed).map { case (p, v, w) => (p, v, w.live(v.id - 1)) }
    val batchEvents = timedVersions.map { case (p, _, _) => eventsOf(p) }
    def jm(p: StreamingQueryProgress)(f: JobRec => Double) = jobsOf(p.batchId).map(f).sum
    val search = qs.filter(_.kind == "search")
    def kindMs(k: String) = median(qs.filter(_.kind == k).map(_.ms / 1000.0))
    Seq(
      "ingest.trigger_s" -> (median(timed.map(dur(_, "triggerExecution") / 1000.0)), "s"),
      "ingest.overhead_s" -> (median(timed.map(p =>
        (dur(p, "triggerExecution") - dur(p, "addBatch")) / 1000.0)), "s"),
      "ingest.wal_commit_s" -> (median(timed.map(dur(_, "walCommit") / 1000.0)), "s"),
      "ingest.query_planning_s" -> (median(timed.map(dur(_, "queryPlanning") / 1000.0)), "s"),
      "ingest.rows_per_batch" -> (median(timed.map(eventsOf(_).size.toDouble)), "count"),
      "ingest.gen_late_tail_s" -> (tail(lateness)._1, "s"),
      "model.decode_s" -> (median(probes.map(_._1)), "s"),
      "sync.fold_s" -> (median(probes.map(_._2)), "s"),
      "sync.state_read_s" -> (median(timed.map(p => jm(p)(_.fileStageMs.toDouble) / 1000.0)), "s"),
      "sync.rewrite_s" -> (median(timed.map(rewriteS)), "s"),
      "sync.read_files" -> (median(timedVersions.map { case (_, v, prev) =>
        v.covered.map(b => prev.get(b).map(_.files.getOrElse(b, Nil).size).getOrElse(0)).sum.toDouble
      }), "count"),
      "sync.bytes_written_per_event" -> (median(timedVersions.zip(batchEvents).map {
        case ((_, v, _), evs) => v.bytes.toDouble / math.max(1, evs.size) }), "bytes"),
      "sync.files_per_commit" -> (median(timedVersions.map(_._2.fileCount.toDouble)), "count"),
      "sync.dirty_bucket_ratio" -> (median(timedVersions.map(_._2.covered.size.toDouble / NumBuckets)), "ratio"),
      "sync.rewrite_ratio" -> (median(timedVersions.zip(batchEvents).map { case ((p, _, _), evs) =>
        jm(p)(_.recordsWritten.toDouble) / math.max(1, evs.map(_.rowKey).distinct.size) }), "ratio"),
      "sync.merge_batch_s" -> (median(timed.map(dur(_, "addBatch") / 1000.0)), "s"),
      "sync.compact_s" -> (median(compactMs.toSeq.map(_ / 1000.0)), "s"),
      "sync.version_chain_len" -> (median(committed(timed).map { case (_, v, w) =>
        w.versions.count(_.id <= v.id).toDouble }), "count"),
      "sync.batches_failed" -> (if (query.exception.isDefined) 1.0 else 0.0, "count"),
      "queries.compile_s" -> (median(qs.map(_.compileMs / 1000.0)), "s"),
      "queries.plan_s" -> (median(qs.map(_.planMs / 1000.0)), "s"),
      "queries.exec_s" -> (median(qs.map(q => (q.ms - q.compileMs - q.planMs) / 1000.0)), "s"),
      "queries.rows_scanned_per_hit" -> (search.flatMap(q => jobsByQuery.getOrElse(q.id, Nil))
        .map(_.fileRecords).sum.toDouble / math.max(1L, search.map(_.hits).sum), "ratio"),
      "queries.search_s" -> (kindMs("search"), "s"),
      "queries.terms_agg_s" -> (kindMs("terms_agg"), "s"),
      "queries.get_s" -> (kindMs("get"), "s"),
      "queries.snapshot_diff_s" -> (kindMs("snapshot_diff"), "s"),
      "queries.failed" -> (qrecs.asScala.count(_.error.nonEmpty).toDouble, "count"),
      "core.jobs" -> (d.jobs.toDouble / units, "count"),
      "core.tasks" -> (d.tasks.toDouble / units, "count"),
      "core.executor_cpu_s" -> (d.cpuNs / 1e9 / units, "s"),
      "core.shuffle_bytes" -> (d.shuffleBytes.toDouble / units, "bytes"),
      "core.spill_bytes" -> (d.spillBytes.toDouble / units, "bytes"),
      "core.gc_s" -> (d.gcMs / 1000.0 / units, "s"),
      "core.codegen_s" -> (d.codegenNs / 1e9 / units, "s"),
      "core.forks" -> (d.forks.toDouble / units, "count"),
      "core.plan_share" -> (qs.map(_.planMs).sum / math.max(1e-9, qs.map(_.ms).sum), "ratio")) ++
    // per layer of the entry sample: the mean time of its entries in one
    // pass, median over the passes
    Mix.Layers.map(l => s"$l.entry_s" -> (median(passes.map(p =>
      mean(p.filter(_.layer == l).map(_.s)))), "s"))
  }

  /** The run's user-visible numbers (end-to-end and speed) in both modes,
    * plus per-layer metrics and spans when traced, so the tracing overhead
    * can be read as traced minus untraced on the same seed. */
  private def writeRecord(timed: Seq[StreamingQueryProgress], visible: Seq[(String, (Double, String))],
                          layers: Seq[(String, (Double, String))]): Unit = {
    if (traced) addSpans(timed)
    val dir = new java.io.File(traceDir)
    dir.mkdirs()
    def obj(ms: Seq[(String, (Double, String))]) =
      ms.map { case (k, (v, _)) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
    val t = if (traced) 1 else 0
    java.nio.file.Files.writeString(
      new java.io.File(dir, s"${wl.name}-seed$seed-trace$t.json").toPath,
      s"""{"workload": "${wl.name}", "seed": $seed, "seconds": $seconds, "traced": $traced,\n""" +
      s""" "user_visible": ${obj(visible)},\n "per_layer": ${obj(layers)},\n""" +
      s""" "trace": ${if (traced) trace.toJson else "null"}}\n""")
  }

  /** Spans from the progress events (a batch's `durationMs` phases laid out
    * in order), the queries, and the jobs the listener saw under each. */
  private def addSpans(timed: Seq[StreamingQueryProgress]): Unit = {
    val phaseOrder = Seq("latestOffset" -> "ingest.latest_offset", "walCommit" -> "ingest.wal_commit",
      "getBatch" -> "ingest.get_batch", "queryPlanning" -> "ingest.query_planning",
      "addBatch" -> "sync.merge_batch", "commitOffsets" -> "ingest.commit_offsets")
    val jobs = probe.jobRecs.asScala.toSeq
    timed.foreach { p =>
      val key = s"batch-${p.batchId}"
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val root = trace.add("ingest.trigger", s, s + dur(p, "triggerExecution"), 0, key)
      var at = s
      phaseOrder.foreach { case (k, name) =>
        val id = trace.add(name, at, at + dur(p, k), root, key)
        if (k == "addBatch") jobs.filter(_.batchId.contains(p.batchId)).foreach(j =>
          trace.add("core.job", j.startMs, j.endMs, id, key))
        at += dur(p, k)
      }
    }
    qrecs.asScala.foreach { q =>
      val root = trace.add(s"queries.${q.kind}", q.startMs, q.endMs, 0, q.id)
      trace.add("queries.compile", q.startMs, q.startMs + q.compileMs, root, q.id)
      q.phases.foreach { case (ph, a, b) => trace.add(s"queries.plan_$ph", a, b, root, q.id) }
      jobs.filter(_.span.contains(q.id)).foreach(j =>
        trace.add("core.job", j.startMs, j.endMs, root, q.id))
    }
    trace.all.filter(s => Set("sync.compact", "sync.fold", "model.decode")(s.name)).foreach { s =>
      jobs.filter(_.span.contains(s.key)).foreach(j => trace.add("core.job", j.startMs, j.endMs, s.id, s.key))
    }
  }
}
