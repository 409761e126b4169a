package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.query.BipartiteExpand
import graft.query.BipartiteExpand.FrontierMode

/** BFS levels on edge tables the fixtures never produce (ROADMAP aim
  * 1): an uncached table over 4 partitions with duplicate rows, NULL
  * on both sides, non-ASCII and non-BMP strings, and LongType keys.
  * Every level 1-4 of `expand` and `expandWithEdges` must equal both
  * the forced Shuffle path and [[ImdbOracle]].
  *
  * The first partition holds several distinct rows that the same hop
  * keeps, so a hop that buffered the scan's reused row or string
  * without copying it would return wrong vertices here.
  */
class ExpandEdgeCaseSpec extends SparkSpec {

  private val movie = "𝔐𝔬𝔳𝔦𝔢 🎬"

  /** (name, title) edges. From "Zoë Ångström" the levels reach the
    * cast of "Ménage à trois", then of the non-BMP movie (a NULL name
    * among them), then of "Café"; "Bob" and "Solo" share only a NULL
    * title, which must not link them. */
  private val named: Seq[(String, String)] = {
    val base = Seq(
      "Zoë Ångström" -> "Ménage à trois",
      "𝒜lice 😀" -> "Ménage à trois",
      "山田 太郎" -> "Ménage à trois",
      "山田 太郎" -> movie,
      "Ωmega" -> movie,
      (null, movie),
      "Ωmega" -> "Café",
      "Bob" -> "Café",
      "Bob" -> null,
      "Solo" -> null,
      "Eve" -> "映画",
      "Zed" -> "映画",
      (null, null))
    base ++ base.take(5) ++ base.take(2) // duplicate rows, within and across partitions
  }

  /** The same graph with LongType keys: names 1.. ("Solo" is 6),
    * titles 1001.. (the non-BMP movie is 1002). */
  private val numbered: Seq[(Any, Any)] = {
    def ids(xs: Seq[String], from: Long) =
      xs.filter(_ != null).distinct.zipWithIndex.map { case (x, i) => x -> (from + i) }.toMap
    val (n, t) = (ids(named.map(_._1), 1L), ids(named.map(_._2), 1001L))
    named.map { case (a, m) => (n.getOrElse(a, null), t.getOrElse(m, null)) }
  }

  /** An uncached (name, title) table of `t`-typed keys in 4 partitions. */
  private def table(rows: Seq[(Any, Any)], t: DataType): DataFrame = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(r._1, r._2)), 4),
      StructType(Seq(StructField("name", t), StructField("title", t))))
    assert(df.rdd.getNumPartitions == 4 && df.storageLevel == StorageLevel.NONE)
    df
  }

  /** Both entry points from `root` on the default path and on forced
    * Shuffle, each against the oracle; the default path also returns
    * no duplicate vertex or triple. */
  private def check(rows: Seq[(Any, Any)], t: DataType, root: Any, byName: Boolean,
      level: Int): Unit = {
    val df = table(rows, t)
    val (src, dst) = if (byName) ("name", "title") else ("title", "name")
    val (wantV, wantE) = ImdbOracle.expandWithEdges(
      rows.map(r => (r._2, r._1)).toSet, root, byName, level)
    val answers = for (mode <- Seq(FrontierMode.Auto(), FrontierMode.Shuffle)) yield {
      val clue = s"root=$root level=$level mode=$mode"
      val vs = BipartiteExpand.expand(spark, df, src, dst, lit(root), level, mode = mode)
        .collect().map(_.get(0))
      val x = BipartiteExpand.expandWithEdges(spark, df, src, dst, lit(root), level,
        mode = mode)
      val xvs = x.vertices.collect().map(_.get(0))
      val triples = x.edges.collect().map(r => (r.get(0), r.get(1), r.get(2)))
      assert(vs.toSet == wantV, s"expand: $clue")
      assert(xvs.toSet == wantV, s"expandWithEdges vertices: $clue")
      assert(triples.map(e => (e._1, e._3)).toSet == wantE, s"expandWithEdges edges: $clue")
      if (mode != FrontierMode.Shuffle)
        assert(vs.length == vs.toSet.size && xvs.length == xvs.toSet.size &&
          triples.length == triples.toSet.size, s"duplicates: $clue")
      triples.toSet
    }
    assert(answers.distinct.size == 1, s"triples differ: root=$root level=$level")
  }

  for (level <- 1 to 4) {
    test(s"string keys, level $level: default = Shuffle = oracle") {
      for (root <- Seq("Zoë Ångström", "𝒜lice 😀", "Solo", "No Such Name"))
        check(named, StringType, root, byName = true, level)
      for (root <- Seq(movie, "Café"))
        check(named, StringType, root, byName = false, level)
    }
    test(s"LongType keys, level $level: default = Shuffle = oracle") {
      for (root <- Seq(1L, 6L, 999L)) check(numbered, LongType, root, byName = true, level)
      check(numbered, LongType, 1002L, byName = false, level)
    }
  }

  test("NULL never matches: a NULL vertex is reached, but links nothing") {
    val df = table(named, StringType)
    val vs = BipartiteExpand.expand(spark, df, "name", "title", lit("Zoë Ångström"), 4)
      .collect().map(_.getString(0)).toSet
    assert(vs.contains(null), "the NULL cast member of the movie is a co-star")
    assert(!vs.contains("Solo") && !vs.contains("Eve"), s"reached through a NULL: $vs")
    // a root whose only edge has a NULL title exists, and reaches no one
    for (level <- 1 to 4)
      assert(BipartiteExpand.expand(spark, df, "name", "title", lit("Solo"), level)
        .collect().map(_.getString(0)).toSeq == Seq("Solo"), s"level $level")
  }

  test("a row ceiling between the distinct and the raw row count stays driver-held") {
    // R and A share M, each edge 10 times: each level's raw join holds
    // 10 × 20 rows, its distinct triples (self rows included) are 2
    val df = table(Seq.fill(10)(Seq[(Any, Any)]("R" -> "M", "A" -> "M")).flatten, StringType)
    def modes(withEdges: Boolean): List[(Int, Boolean)] = {
      val seen = ArrayBuffer.empty[(Int, Boolean)]
      val (mode, probe) = (FrontierMode.Auto(maxBroadcastRows = 4),
        (l: Int, b: Boolean) => { seen += ((l, b)); () })
      if (withEdges) {
        val x = BipartiteExpand.expandWithEdges(spark, df, "name", "title", lit("R"), 3,
          mode = mode, onLevelMode = probe)
        assert(x.edges.collect().map(r => (r.get(0), r.get(1), r.get(2))).toSet ==
          Set(("R", "M", "A"), ("A", "M", "R")))
      } else
        assert(BipartiteExpand.expand(spark, df, "name", "title", lit("R"), 3,
          mode = mode, onLevelMode = probe).collect().map(_.get(0)).toSet == Set("R", "A"))
      seen.toList
    }
    assert(modes(withEdges = true) == List((1, true), (2, true)))
    assert(modes(withEdges = false) == List((1, true), (2, true)))
  }
}
