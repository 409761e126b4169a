package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Sessions are built in one place: [[GraftSession]]. A second builder
  * site would restate master, partitions, AQE, timezone and the codegen
  * cache, and such copies drift apart. */
class SessionSiteSpec extends org.scalatest.funsuite.AnyFunSuite {

  // split so this file is not a hit itself
  private val needle = "SparkSession" + ".builder"

  test("GraftSession is the only session builder in src/main and src/test") {
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      val files = Files.walk(Paths.get(root)).iterator().asScala
        .filter(_.toString.endsWith(".scala")).toSeq
      files.flatMap { f: Path =>
        Files.readAllLines(f).asScala.zipWithIndex
          .collect { case (line, i) if line.contains(needle) => s"$f:${i + 1}" }
      }
    }
    assert(hits.size == 1 && hits.head.startsWith(
      "src/main/scala/graft/GraftSession.scala:"), hits.mkString("\n"))
  }
}
