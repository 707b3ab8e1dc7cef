package graft

/** Scratch diagnostic main (not part of the library surface): dump
  * `explain("formatted")` for named entries to files — the plan-evidence
  * deliverable of the optimization rounds (plans/rNN/<entry>_{before,after}.txt).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <entry> [entry ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(args(0))
    java.nio.file.Files.createDirectories(outDir)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    args.drop(2).foreach { name =>
      val e = SparkEntry.allEntries.find(_.name == name).getOrElse(
        sys.error(s"unknown entry $name"))
      val df = e.fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"dumped $name ($suffix)")
    }
    spark.stop()
  }
}
