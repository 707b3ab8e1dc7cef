package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** One finished Spark job as seen from outside the program: the
  * micro-batch or benchmark span it ran under, and its task totals. */
final case class JobRec(startMs: Long, endMs: Long, batchId: Option[Long],
                        span: Option[String], fileStageMs: Long, fileRecords: Long,
                        recordsWritten: Long)

/** Engine counters, read only through public listener APIs. */
final case class Totals(jobs: Long, tasks: Long, cpuNs: Long, shuffleBytes: Long,
                        spillBytes: Long, gcMs: Long, codegenNs: Long, forks: Long) {
  def -(o: Totals): Totals = Totals(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes, gcMs - o.gcMs,
    codegenNs - o.codegenNs, forks - o.forks)
}

final class Probe private () extends SparkListener {
  private val jobs, tasks, cpuNs, shuffleBytes, spillBytes = new AtomicLong
  val jobRecs = new ConcurrentLinkedQueue[JobRec]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private final class Open(val startMs: Long, val props: java.util.Properties) {
    val recordsWritten, fileStageMs, fileRecords = new AtomicLong
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Open]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties).getOrElse(new java.util.Properties)
    open.put(e.jobId, new Open(e.time, props))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    val j = stageJob.get(e.stageId)
    val o = if (j == null) null else open.get(j)
    if (o != null && m != null) o.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val j = stageJob.remove(si.stageId)
    val o = if (j == null) null else open.get(j)
    // a stage whose lineage scans files is a table read (the doc table's
    // version files, for the sync and query paths)
    if (o != null && si.rddInfos.exists(_.name == "FileScanRDD")) {
      for (s <- si.submissionTime; c <- si.completionTime) o.fileStageMs.addAndGet(c - s)
      o.fileRecords.addAndGet(si.taskMetrics.inputMetrics.recordsRead)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    val o = open.remove(e.jobId)
    if (o != null) {
      def prop(k: String) = Option(o.props.getProperty(k))
      jobRecs.add(JobRec(o.startMs, e.time, prop("streaming.sql.batchId").map(_.toLong),
        prop(Probe.SpanKey), o.fileStageMs.get, o.fileRecords.get, o.recordsWritten.get))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      offsets.put((e.progress.runId, e.progress.batchId), Clock.nowMs - System.currentTimeMillis())
      progress.add(e.progress)
      Probe.this.synchronized(Probe.this.notifyAll())
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val offsets = new java.util.concurrent.ConcurrentHashMap[(java.util.UUID, Long), Double]()

  /** Benchmark clock minus wall clock when `p` arrived, ms. */
  def clockOffset(p: StreamingQueryProgress): Double = offsets.get((p.runId, p.batchId))

  /** Block until a progress event satisfies `p` or `timeoutMs` passes. */
  def awaitProgress(timeoutMs: Long)(p: StreamingQueryProgress => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!progress.asScala.exists(p) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, math.min(50L, deadline - System.currentTimeMillis())))
    }
    progress.asScala.exists(p)
  }

  def totals: Totals = Totals(jobs.get, tasks.get, cpuNs.get, shuffleBytes.get,
    spillBytes.get, Probe.gcMs, Probe.codegenNs, Probe.forks)
}

object Probe {
  /** Local property naming the benchmark span a job runs under. */
  val SpanKey = "perfbench.span"

  private var installed: Option[(SparkSession, Probe)] = None

  /** Install the listeners once per session: a second call returns the
    * probe already registered instead of adding another. */
  def install(spark: SparkSession): Probe = synchronized {
    installed match {
      case Some((s, p)) if s eq spark => p
      case _ =>
        val p = new Probe
        spark.sparkContext.addSparkListener(p)
        spark.streams.addListener(p.streamListener)
        installed = Some((spark, p))
        p
    }
  }

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def codegenNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  /** Processes created since boot (`/proc/stat`); machine-wide, so a delta
    * also counts other processes' forks on the same kernel. */
  def forks: Long = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("processes ")).map(_.split("\\s+")(1).toLong)
      .getOrElse(0L)
    finally src.close()
  }

  /** Peak resident set of this JVM (`VmHWM`), MiB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** One committed version dir of the doc table: the buckets its `_coverage`
  * marker lists, and the files (with bytes) under each bucket dir. */
final case class Version(id: Long, covered: Seq[Int], files: Map[Int, Seq[Long]]) {
  def bytes: Long = files.values.flatten.sum
  def fileCount: Int = files.values.map(_.size).sum
}

/** A walk of the state dir, resolving the live file set the same way the
  * reader does: the newest committed version covering each bucket. */
final case class StateWalk(versions: Seq[Version]) {
  /** Live version per bucket among versions `<= asOf`. */
  def live(asOf: Long = Long.MaxValue): Map[Int, Version] = {
    val m = scala.collection.mutable.Map.empty[Int, Version]
    versions.filter(_.id <= asOf).sortBy(-_.id).foreach { v =>
      v.covered.foreach(b => if (!m.contains(b)) m(b) = v)
    }
    m.toMap
  }
  def liveBytes(asOf: Long = Long.MaxValue): Long =
    live(asOf).map { case (b, v) => v.files.getOrElse(b, Nil).sum }.sum
  def maxVersion: Long = versions.map(_.id).maxOption.getOrElse(-1L)
}

object StateWalk {
  private def dataFile(f: java.io.File) =
    f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_")

  def apply(dir: String): StateWalk = {
    val vs = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("v"))
      .flatMap { v =>
        val cov = new java.io.File(v, "_coverage")
        if (!cov.exists()) None
        else {
          val covered = java.nio.file.Files.readString(cov.toPath).split(",").toSeq
            .filter(_.nonEmpty).map(_.toInt)
          val files = covered.map { b =>
            b -> Option(new java.io.File(v, s"bucket=$b").listFiles()).toSeq.flatten
              .filter(dataFile).map(_.length)
          }.toMap
          Some(Version(v.getName.drop(1).toLong, covered, files))
        }
      }
    StateWalk(vs.sortBy(_.id))
  }
}
