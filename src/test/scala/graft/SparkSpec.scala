package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session via
  * getOrCreate; Test/fork=true gives the suite its own JVM). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def resource(name: String): String =
    getClass.getResource(s"/$name").getPath

  private val tempDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh directory under the system temp dir, deleted with its
    * contents after the suite's last test. */
  def tempDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs.synchronized(tempDirs += d)
    d
  }

  override def afterAll(): Unit =
    try tempDirs.synchronized {
      tempDirs.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
      tempDirs.clear()
    } finally super.afterAll()

  /** Run `body` with session conf `key` set to `value`, then restore
    * the previous setting: the session is shared by every suite in the
    * JVM, so a conf a case leaves behind changes what later suites do. */
  def withConf[A](key: String, value: String)(body: => A): A = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}

object SparkSpec {
  lazy val session: SparkSession =
    GraftSession("graft-test", 4, logLevel = "ERROR")
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
  def expand[A](edges: Set[(A, A)], root: A, byName: Boolean, level: Int): Set[A] =
    expandWithEdges(edges, root, byName, level)._1

  /** The same BFS plus its vertex edges: every (u, v) pair, u ≠ v, with
    * u in an expanded frontier and v sharing a neighbour with u. Edges
    * are (title, name) pairs, and `byName` roots the BFS at a name. A
    * NULL key never matches, as in SQL: a NULL vertex can be reached,
    * but nothing is reached through it. */
  def expandWithEdges[A](edges: Set[(A, A)], root: A,
      byName: Boolean, level: Int): (Set[A], Set[(A, A)]) = {
    val fwd = (if (byName) edges.map(e => (e._2, e._1)) else edges)
      .filter(_._1 != null).groupMap(_._1)(_._2)
    val rev = (if (byName) edges else edges.map(e => (e._2, e._1)))
      .filter(_._1 != null).groupMap(_._1)(_._2)
    val exists = fwd.contains(root)
    if (!exists) return (Set.empty, Set.empty)
    var visited = Set(root)
    var frontier = Set(root)
    var found = Set.empty[(A, A)]
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
