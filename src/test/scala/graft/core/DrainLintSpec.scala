package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main/scala` (the OracleLintSpec posture): the
  * run-to-completion drain lifecycle lives only in [[Drain]], the
  * temp-dir + JVM-exit-hook pattern only in the scratch registry
  * ([[Staging.scratchDir]]), and intermediate materialization only in
  * [[Staging]]. A new hand-rolled drain loop, temp dir or persist fails
  * here instead of growing another copy to keep in step. The temp-dir
  * rule also scans `src/test/scala`: a spec's hand-made temp dir is
  * never deleted, so every full run would leave it behind. Media decode
  * has one path too: a codec is a per-payload function run by
  * `Dataset.map` (`graft.multimodal.Multimodal.decoded`), so no codec
  * handle is opened and no partition is batched by hand. */
class DrainLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")

  /** (path under `root`, line number, line) of every occurrence. */
  private def sites(token: String, root: Path = root): Seq[(String, Int, String)] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(token) => (root.relativize(f).toString, i + 1, line)
      }
    }
  }

  private def filesOf(token: String): Seq[String] = sites(token).map(_._1)

  test("the drain lifecycle (AvailableNow start) exists once, in Drain") {
    assert(filesOf("Trigger.AvailableNow()") == Seq("graft/core/Drain.scala"))
  }

  test("temp dirs and JVM-exit hooks exist once, in the scratch registry") {
    assert(filesOf("Files.createTempDirectory") == Seq("graft/core/Staging.scala"))
    assert(filesOf("sys.addShutdownHook") == Seq("graft/core/Staging.scala"))
    val inTests = sites("createTempDirectory", testRoot)
      .filterNot(_._1 == "graft/core/DrainLintSpec.scala")
    assert(inTests.isEmpty,
      "specs must take temp dirs from Staging.scratchDir:\n" + inTests.mkString("\n"))
  }

  test("awaitTermination only in Drain and Ingest.stopGracefully") {
    val found = sites(".awaitTermination()")
    assert(found.map(_._1) == Seq("graft/core/Drain.scala", "graft/ingest/Ingest.scala"))
    val (_, line, _) = found(1)
    val enclosingDef = Files.readAllLines(root.resolve("graft/ingest/Ingest.scala")).asScala
      .take(line).filter(_.trim.startsWith("def ")).last
    assert(enclosingDef.contains("def stopGracefully("), enclosingDef)
  }

  test("materialization lives only in Staging; nothing calls clearCache()") {
    val found = Seq(".persist(", ".cache()", "localCheckpoint(", ".unpersist(", ".checkpoint(")
      .flatMap(sites(_)).filterNot(_._1 == "graft/core/Staging.scala")
    // the one exception: LinkGraph's Reliable mode checkpoints each
    // fixpoint round to the configured DFS dir (CheckpointModeSpec)
    val (reliable, rest) = found.partition { case (f, _, line) =>
      f == "graft/text/LinkGraph.scala" && line.contains("case Reliable => df.checkpoint()")
    }
    assert(rest.isEmpty, rest.mkString("\n"))
    assert(reliable.size == 1, found.mkString("\n"))
    assert(sites("clearCache()").isEmpty, sites("clearCache()").mkString("\n"))
  }

  test("one decode path: no codec handle, no hand batching, mapPartitions only for partition state") {
    val handles = Seq("def open()", ".open()", ".grouped(64)").flatMap(sites(_))
    assert(handles.isEmpty, handles.mkString("\n"))
    // the two partitions that hold state: the per-host robots rule memo
    // of q222 and of Funnel.decisionsOf
    assert(filesOf(".mapPartitions").distinct ==
      Seq("graft/text/Funnel.scala", "graft/text/Robots.scala"),
      sites(".mapPartitions").mkString("\n"))
  }
}
