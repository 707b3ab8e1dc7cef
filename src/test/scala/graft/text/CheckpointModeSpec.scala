package graft.text

import org.apache.spark.sql.functions._

import graft.GraftSuite
import graft.core.Staging

/** The reliable-checkpoint toggle for the iterative graph tier
  * (LinkGraph.CkptMode): `localCheckpoint()` blocks are executor-local
  * and NOT fault-tolerant, so a real cluster runs the fixpoints under
  * `checkpoint()` against a durable checkpoint dir. The toggle must be
  * output-neutral — the integer recurrences are deterministic, so both
  * modes are bit-identical; this spec pins that for every fixpoint that
  * takes the mode. (The sandbox entries keep Local; this is the
  * deployment-honest path's proof, not an entry.)
  */
class CheckpointModeSpec extends GraftSuite {

  private def withCheckpointDir[A](body: => A): A = {
    // Spark never cleans non-streaming checkpoint files, and the session is
    // shared across suites — restore the previous dir and delete ours so no
    // state leaks past this spec (r16 advice).
    val prev = spark.sparkContext.getCheckpointDir
    val dir = Staging.scratchDir("graft-ckpt")
    spark.sparkContext.setCheckpointDir(dir)
    try body finally {
      prev.foreach(spark.sparkContext.setCheckpointDir)
      spark.catalog.clearCache()
      graft.core.Fs.deleteRecursively(new java.io.File(dir))
    }
  }

  test("rank/dualRank/HITS/BFS fixpoints: Reliable checkpoint == Local, bit-for-bit") {
    import spark.implicits._
    withCheckpointDir {
      val n = 24L
      val nodes = (0L until n).toDF("v")
      val edges = (0L until n)
        .flatMap(id => LinkGraph.edgeTargets(id, n).toSet.map((t: Long) => id -> t))
        .toDF("src", "dst")

      def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
        df.collect().toSeq.map(_.toSeq).sortBy(_.head.asInstanceOf[Long])

      // PageRank via rankFixpoint
      val prBase = nodes.select(col("v"), lit((15L * LinkGraph.Scale) / (100L * n)).as("b"))
      val prInit = nodes.select(col("v"), lit(LinkGraph.Scale / n).as("r"))
      assert(rows(LinkGraph.rankFixpoint(edges, prBase, prInit, LinkGraph.Reliable))
        == rows(LinkGraph.rankFixpoint(edges, prBase, prInit, LinkGraph.Local)))

      // dual-rank (PageRank + TrustRank sharing the fixpoint)
      val seed = col("v") % 7 === 0
      val ns = (0L until n).count(_ % 7 == 0).toLong
      val dBase = nodes.select(col("v"),
        lit((15L * LinkGraph.Scale) / (100L * n)).as("bp"),
        when(seed, lit((15L * LinkGraph.Scale) / (100L * ns))).otherwise(0L).as("bt"))
      val dInit = nodes.select(col("v"),
        lit(LinkGraph.Scale / n).as("pr"),
        when(seed, lit(LinkGraph.Scale / ns)).otherwise(0L).as("tr"))
      assert(rows(LinkGraph.dualRankFixpoint(edges, dBase, dInit, LinkGraph.Reliable))
        == rows(LinkGraph.dualRankFixpoint(edges, dBase, dInit, LinkGraph.Local)))

      // HITS mutual recursion
      assert(rows(LinkGraph.hits(nodes, edges, LinkGraph.Reliable))
        == rows(LinkGraph.hits(nodes, edges, LinkGraph.Local)))

      // BFS frontier expansion
      val seeds = nodes.filter(col("v") % 7 === 0).select(col("v"))
      assert(rows(LinkGraph.bfsDepths(edges, seeds, 3, LinkGraph.Reliable))
        == rows(LinkGraph.bfsDepths(edges, seeds, 3, LinkGraph.Local)))
    }
  }
}
