package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Parquet is read through [[graft.sources.Parquet]], which takes the
  * schema from one footer on the driver. A read without a schema makes
  * Spark run a schema-inference job before the query's own jobs. */
class ParquetReadSiteSpec extends org.scalatest.funsuite.AnyFunSuite {

  // `.read`, any `.option(...)`s, then `.parquet(` or
  // `.format("parquet")...load(`; whitespace (newlines too) between the
  // calls, so a read split over lines matches as well
  private val schemaless = ("""\.read\s*(\.option\([^)]*\)\s*)*""" +
    """(\.parquet\(|\.format\("parquet"\)\s*(\.option\([^)]*\)\s*)*\.load\()""").r
  private val helper = Paths.get("src/main/scala/graft/sources/Parquet.scala")
  // `q_schema_evolution` must merge two generations' footers, which is
  // what Spark's `mergeSchema` inference does and one footer cannot
  private val mergeSite = Paths.get("src/main/scala/graft/operators/PipelineQueries.scala")

  private def hits(f: Path, src: String): Seq[(String, String)] =
    schemaless.findAllMatchIn(src).map { m =>
      val line = src.substring(0, m.start).count(_ == '\n') + 1
      (s"$f:$line", m.matched)
    }.toSeq

  test("the guard sees split-line and format/load reads") {
    val src = "s.read\n  .option(\"a\", \"b\")\n  .parquet(p)\n" +
      "s.read.format(\"parquet\").load(p)\n" +
      "s.read.schema(t).parquet(p)\n"
    assert(hits(Paths.get("x"), src).map(_._1) == Seq("x:1", "x:4"))
  }

  test("no schema-less parquet read in src/main outside the footer helper") {
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(f => f.toString.endsWith(".scala") && f != helper).toSeq
    val all = files.flatMap(f => hits(f, new String(Files.readAllBytes(f), "UTF-8")))
    val (merge, bad) = all.partition { case (at, text) =>
      at.startsWith(s"$mergeSite:") && text.contains("\"mergeSchema\"")
    }
    assert(bad.isEmpty, bad.map(_._1).mkString("\n"))
    assert(merge.size == 1, s"the one mergeSchema read: ${merge.map(_._1)}")
  }
}
