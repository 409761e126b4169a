package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Every lineage cut goes through [[graft.query.Checkpoints.cut]], the
  * one place `spark.graft.checkpointDir` is read. A bare
  * `.localCheckpoint()` elsewhere is a cut the conf cannot make
  * durable: on executor loss it fails the job instead of replaying,
  * whatever the session asked for. Twenty such calls once existed. */
class CheckpointSiteSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val localCut = """\.localCheckpoint\(""".r
  private val reliableCut = """\.checkpoint\(""".r

  /** The code part of a line: none for a scaladoc/block-comment line,
    * the text before `//` otherwise. */
  private def code(line: String): String = {
    val t = line.trim
    if (t.startsWith("*") || t.startsWith("/*")) ""
    else line.split("//", 2)(0)
  }

  private def hits(pattern: scala.util.matching.Regex): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(code(line)).nonEmpty => s"$f:${i + 1}"
      }
    }
  }

  private val owner = "src/main/scala/graft/query/Checkpoints.scala:"

  test("the guards see calls, not their descriptions") {
    assert(localCut.findFirstIn(code("    val out = survivors.localCheckpoint()")).nonEmpty)
    assert(reliableCut.findFirstIn(code("        val out = cached.checkpoint()")).nonEmpty)
    assert(localCut.findFirstIn(code("  * is exactly `df.localCheckpoint()` when unset")).isEmpty)
    assert(reliableCut.findFirstIn(code("    // the default `df.checkpoint()` recomputes")).isEmpty)
  }

  test("src/main makes a local checkpoint in exactly one place") {
    val at = hits(localCut)
    assert(at.size == 1 && at.head.startsWith(owner), at.mkString("\n"))
  }

  test("src/main makes a reliable checkpoint in exactly one place") {
    val at = hits(reliableCut)
    assert(at.size == 1 && at.head.startsWith(owner), at.mkString("\n"))
  }
}
