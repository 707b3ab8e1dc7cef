package graft.core

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan over `src/main/scala` (the OracleLintSpec posture): the
  * run-to-completion drain lifecycle lives only in [[Drain]], and the
  * temp-dir + JVM-exit-hook pattern only in the scratch registry
  * ([[Staging.scratchDir]]). A new hand-rolled drain loop or temp dir
  * fails here instead of growing another copy to keep in step. */
class DrainLintSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** (path under src/main/scala, line number, line) of every occurrence. */
  private def sites(token: String): Seq[(String, Int, String)] = {
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
  }

  test("awaitTermination only in Drain and Ingest.stopGracefully") {
    val found = sites(".awaitTermination()")
    assert(found.map(_._1) == Seq("graft/core/Drain.scala", "graft/ingest/Ingest.scala"))
    val (_, line, _) = found(1)
    val enclosingDef = Files.readAllLines(root.resolve("graft/ingest/Ingest.scala")).asScala
      .take(line).filter(_.trim.startsWith("def ")).last
    assert(enclosingDef.contains("def stopGracefully("), enclosingDef)
  }
}
