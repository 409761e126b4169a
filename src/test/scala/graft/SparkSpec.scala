package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session via
  * getOrCreate; Test/fork=true gives the suite its own JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Plain-Scala oracle over the reference's 1000-row sample TSVs —
  * independently recomputes the ingest join and the BFS expansion with
  * ordinary collections (mirroring SURVEY.md §2.5 semantics) so the
  * Spark implementation is checked against a second implementation,
  * not against itself.
  */
object ImdbOracle {
  private def lines(path: String): Seq[String] =
    scala.io.Source.fromFile(path, "UTF-8").getLines().toSeq

  def names(path: String): Map[String, String] =            // nconst -> name
    lines(path).map(_.split("\t")).map(a => a(0) -> a(1)).toMap

  def basics(path: String): Map[String, String] =           // tconst -> originalTitle
    lines(path).drop(1).map(_.split("\t")).map(a => a(0) -> a(3)).toMap

  def principals(path: String): Seq[(String, String)] =     // (tconst, nconst), actors only
    lines(path).drop(1).map(_.split("\t"))
      .filter(a => a(3) == "actor" || a(3) == "actress")
      .map(a => (a(0), a(2)))

  /** The ingest result: distinct (title, name) edges. */
  def edges(dir: String): Set[(String, String)] = {
    val nm = names(s"$dir/names1000.tsv")
    val bs = basics(s"$dir/basic1000.tsv")
    principals(s"$dir/principals1000.tsv").flatMap { case (t, n) =>
      for (title <- bs.get(t); name <- nm.get(n)) yield (title, name)
    }.toSet
  }

  /** BFS with the reference's level semantics (level=1 ⇒ root only,
    * each level = one two-hop expansion), global visited dedup. */
  def expand(edges: Set[(String, String)], root: String, byName: Boolean,
      level: Int): Set[String] =
    expandWithEdges(edges, root, byName, level)._1

  /** The same BFS plus its vertex edges: every (u, v) pair, u ≠ v, with
    * u in an expanded frontier and v sharing a neighbour with u. */
  def expandWithEdges(edges: Set[(String, String)], root: String,
      byName: Boolean, level: Int): (Set[String], Set[(String, String)]) = {
    val fwd = (if (byName) edges.map(e => (e._2, e._1)) else edges)
      .groupMap(_._1)(_._2)
    val rev = (if (byName) edges else edges.map(e => (e._2, e._1)))
      .groupMap(_._1)(_._2)
    val exists = fwd.contains(root)
    if (!exists) return (Set.empty, Set.empty)
    var visited = Set(root)
    var frontier = Set(root)
    var found = Set.empty[(String, String)]
    for (_ <- 1 until level if frontier.nonEmpty) {
      val pairs = for (u <- frontier; m <- fwd.getOrElse(u, Set.empty);
        v <- rev.getOrElse(m, Set.empty) if v != u) yield (u, v)
      found ++= pairs
      frontier = pairs.map(_._2) -- visited
      visited = visited ++ frontier
    }
    (visited, found)
  }
}
