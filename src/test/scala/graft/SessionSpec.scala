package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The mains share one session declaration ([[graft.Session]]); only
  * KillProbe keeps its own Hive-enabled builder. */
class SessionSpec extends AnyFunSuite {
  test("no main source outside Session and KillProbe builds a SparkSession") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), root.toAbsolutePath)
    def builds(p: Path): Boolean = Files.readString(p).linesIterator
      .map(_.trim).filterNot(l => l.startsWith("*") || l.startsWith("//"))
      .exists(_.contains("SparkSession.builder()"))
    val building = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).filter(builds)
      .map(root.relativize(_).toString).toSet
    assert(building === Set("graft/Session.scala", "graft/KillProbe.scala"))
  }
}
