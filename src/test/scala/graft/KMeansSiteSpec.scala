package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** k-means has one owner: [[graft.query.KMeans]]. Its mean-centroid
  * aggregation (`posexplode` → `groupBy … avg("col")`) and its L2 argmin
  * (`min(struct(col("d2"), …))`) each appear once in `src/main`; a
  * second copy is a second place the tie rule, the cut policy or the
  * bit-exact centroid arithmetic the oracle rows replay can drift.
  * Four copies of the one and three of the other once existed. */
class KMeansSiteSpec extends org.scalatest.funsuite.AnyFunSuite {

  // posexplode names its element column "col": an average over it is
  // a per-position mean of an array column
  private val meanCentroid = """avg\("col"\)""".r
  private val l2Argmin = """min\(struct\(col\("d2"\)""".r

  private def hits(pattern: scala.util.matching.Regex): Seq[String] = {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if pattern.findFirstIn(line).nonEmpty => s"$f:${i + 1}"
      }
    }
  }

  private val owner = "src/main/scala/graft/query/KMeans.scala:"

  test("the guards see the code shapes, not their descriptions") {
    assert(meanCentroid.findFirstIn(
      """      .groupBy("label", "pos").agg(avg("col").as("m"))""").nonEmpty)
    assert(l2Argmin.findFirstIn(
      """    .agg(min(struct(col("d2"), col("c_code"))).as("best"))""").nonEmpty)
    assert(l2Argmin.findFirstIn("  * `min(struct(d2, code))` hash aggregate").isEmpty)
  }

  test("src/main aggregates mean centroids in exactly one place") {
    val at = hits(meanCentroid)
    assert(at.size == 1 && at.head.startsWith(owner), at.mkString("\n"))
  }

  test("src/main takes the L2 argmin in exactly one place") {
    val at = hits(l2Argmin)
    assert(at.size == 1 && at.head.startsWith(owner), at.mkString("\n"))
  }
}
