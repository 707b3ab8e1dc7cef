package graft
/** Scratch diagnostic main (not part of the library surface).
  *
  * Usage: runMain graft.PlanCheck <entry>[,<entry>...] <sfDir> [reps]
  *
  * Prints each entry's exchanges/joins, then per rep: wall seconds plus the
  * CONTENTION-INDEPENDENT execution profile (jobs, stages, tasks, input
  * bytes read, shuffle bytes written) — the numbers that prove or refute a
  * "fewer passes / fewer shuffles" claim on a noisy machine. A
  * comma-separated entry list shares one JVM/session so a sweep does not
  * pay sbt+session startup per entry.
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)

    import org.apache.spark.scheduler._
    import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val input = new AtomicLong; val swrite = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet(); tasks.addAndGet(s.stageInfo.numTasks)
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          input.addAndGet(m.inputMetrics.bytesRead)
          swrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
        ()
      }
    })

    // Streaming profile (VERDICT r21 item 4): per-batch durationMs
    // components + state-store commit/update times summed across every
    // stream the entry drains — the numbers that attribute a stream-stream
    // join's wall to state machinery vs planning vs real work.
    val sProf = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
    def sAdd(k: String, v: Long): Unit = {
      sProf.computeIfAbsent(k, _ => new java.util.concurrent.atomic.AtomicLong)
        .addAndGet(v); ()
    }
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        sAdd("batches", 1)
        p.durationMs.forEach((k, v) => sAdd("dur_" + k, v))
        p.stateOperators.foreach { so =>
          sAdd("state_commit_ms", so.commitTimeMs)
          sAdd("state_updates_ms", so.allUpdatesTimeMs)
          sAdd("state_removals_ms", so.allRemovalsTimeMs)
          sAdd("state_rows", so.numRowsTotal)
          sAdd("state_stores", 1)
        }
      }
    })

    val reps = args.lift(2).map(_.toInt).getOrElse(1)
    args(0).split(',').foreach { name =>
      val e = SparkEntry.allEntries.find(_.name == name).get
      val df = e.fn(spark, args(1))
      val plan = df.queryExecution.executedPlan.toString
      plan.linesIterator.filter(_.contains("Exchange hashpartitioning"))
        .foreach(l => println(s"EXCH[$name]: " + l.trim.take(200)))
      plan.linesIterator.filter(l => l.contains("Join") || l.contains("BroadcastExchange"))
        .foreach(l => println(s"JOIN[$name]: " + l.trim.take(160)))

      (1 to reps).foreach { i =>
        Seq(jobs, stages, tasks).foreach(_.set(0)); Seq(input, swrite).foreach(_.set(0))
        sProf.clear()
        val t0 = System.nanoTime()
        e.fn(spark, args(1)).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        // listener events are posted asynchronously; give the bus a moment
        Thread.sleep(500)
        println(f"$name ${args(1)} rep$i: $wall%.2f s  " +
          f"jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get} " +
          f"inputMB=${input.get / 1e6}%.1f shufWriteMB=${swrite.get / 1e6}%.2f")
        if (!sProf.isEmpty) {
          import scala.jdk.CollectionConverters._
          val line = sProf.asScala.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=${v.get}" }.mkString(" ")
          println(s"$name stream rep$i: $line")
        }
      }
    }
    spark.stop()
  }
}
