package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The gen-N manifest format has one owner: [[graft.pipeline.Manifest]].
  * A second copy of the protocol (its own rename commit, its own
  * `gen-` file pattern) drifts from the first; two copies once did, and
  * only one of them kept `manifest/` bounded. */
class ManifestSiteSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val rename = ".rename("
  // `gen-` followed by a regex token: a group, a class or an escape
  private val genRegex = """gen-[(\[\\]""".r

  private def hits(matches: String => Boolean): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex
        .collect { case (line, i) if matches(line) => s"$f:${i + 1}" }
    }
  }

  private val owner = "src/main/scala/graft/pipeline/Manifest.scala:"

  test("the guard sees a gen- file pattern, not a gen- file name") {
    assert(genRegex.findFirstIn("  private val GenFile = \"^gen-(\\\\d+)$\".r").nonEmpty)
    assert(genRegex.findFirstIn("  \"gen-\\\\d+\".r").nonEmpty)
    assert(genRegex.findFirstIn("  new Path(dir, s\"gen-$gen\")").isEmpty)
  }

  test("src/main commits by rename in exactly one place") {
    val at = hits(_.contains(rename))
    assert(at.size == 1 && at.head.startsWith(owner), at.mkString("\n"))
  }

  test("src/main matches gen- manifest names with exactly one regex") {
    val at = hits(genRegex.findFirstIn(_).nonEmpty)
    assert(at.size == 1 && at.head.startsWith(owner), at.mkString("\n"))
  }
}
