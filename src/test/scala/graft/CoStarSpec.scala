package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel
import graft.ingest.EdgeBuilder
import graft.output.Dot
import graft.query.{BipartiteExpand, CoStar}
import graft.query.BipartiteExpand.FrontierMode

/** Golden end-to-end expansion tests against the in-memory oracle
  * (SURVEY.md §5 tier 2): every level 1..4, both query types. */
class CoStarSpec extends SparkSpec {
  private lazy val dir = new java.io.File(resource("imdb")).getPath
  private lazy val oracleEdges = ImdbOracle.edges(dir)
  private def ingest(): DataFrame = EdgeBuilder.materialize(EdgeBuilder.edges(spark,
    s"$dir/basic1000.tsv", s"$dir/principals1000.tsv", s"$dir/names1000.tsv"))
  private lazy val sparkEdges = ingest()

  // the best-connected actor and movie in the sample, picked from the oracle
  private lazy val topActor =
    oracleEdges.groupBy(_._2).view.mapValues(_.size).maxBy(v => (v._2, v._1))._1
  private lazy val topMovie =
    oracleEdges.groupBy(_._1).view.mapValues(_.size).maxBy(v => (v._2, v._1))._1

  private def run(root: String, tpe: CoStar.QueryType, level: Int): Set[String] =
    CoStar.run(spark, sparkEdges, root, tpe, level)
      .vertices.collect().map(_.getString(0)).toSet

  for (level <- 1 to 4) {
    test(s"actor expansion level $level matches oracle") {
      val got = run(topActor, CoStar.ActorQuery, level)
      val want = ImdbOracle.expand(oracleEdges, topActor, byName = true, level)
      assert(got == want, s"level $level: got ${got.size}, want ${want.size}")
    }
    test(s"movie expansion level $level matches oracle") {
      val got = run(topMovie, CoStar.MovieQuery, level)
      val want = ImdbOracle.expand(oracleEdges, topMovie, byName = false, level)
      assert(got == want, s"level $level: got ${got.size}, want ${want.size}")
    }
  }

  test("level 1 is root only") {
    assert(run(topActor, CoStar.ActorQuery, 1) == Set(topActor))
  }

  test("levels are monotone: result(L) ⊆ result(L+1)") {
    val sets = (1 to 4).map(run(topActor, CoStar.ActorQuery, _))
    sets.sliding(2).foreach { case Seq(a, b) => assert(a.subsetOf(b)) }
  }

  test("unknown root yields empty result") {
    assert(run("No Such Person Exists", CoStar.ActorQuery, 3).isEmpty)
  }

  test("P7: blank root and bad level are rejected") {
    intercept[IllegalArgumentException] {
      CoStar.run(spark, sparkEdges, "  ", CoStar.ActorQuery, 2)
    }
    intercept[IllegalArgumentException] {
      CoStar.run(spark, sparkEdges, topActor, CoStar.ActorQuery, 5)
    }
  }

  test("vertex edges exclude self-loops and stay within the vertex set") {
    val res = CoStar.run(spark, sparkEdges, topActor, CoStar.ActorQuery, 2)
    val vs = res.vertices.collect().map(_.getString(0)).toSet
    val es = res.vertexEdges(CoStar.ActorQuery).collect()
      .map(r => (r.getString(0), r.getString(1)))
    es.foreach { case (a, b) =>
      assert(a != b)
      assert(vs.contains(a) && vs.contains(b))
    }
  }

  // ---- differential: default (driver-held) path vs forced shuffle vs oracle

  private val unknownRoot = "No Such Vertex Exists"

  /** A query's observable answer. The DOT text is rendered from a
    * canonically ordered edge list: `Dot.render` keeps input order
    * among equal sort keys, and neither path promises an order. */
  private case class Answer(vertices: Set[String], edges: Set[(String, String)],
      dot: String)

  private def answer(root: String, tpe: CoStar.QueryType, vs: Set[String],
      es: Set[(String, String)]): Answer =
    Answer(vs, es, Dot.render(root, es.toSeq.sorted, actors = tpe == CoStar.ActorQuery))

  private def observe(root: String, tpe: CoStar.QueryType, res: CoStar.Result): Answer = {
    val vs = res.vertices.collect().map(_.getString(0))
    assert(vs.length == vs.toSet.size, s"duplicate vertices: ${vs.toSeq}")
    answer(root, tpe, vs.toSet, res.vertexEdges(tpe).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet)
  }

  private def oracleAnswer(root: String, tpe: CoStar.QueryType, level: Int): Answer = {
    val (vs, es) = ImdbOracle.expandWithEdges(oracleEdges, root,
      byName = tpe == CoStar.ActorQuery, level)
    answer(root, tpe, vs, es)
  }

  /** `CoStar.run` with an explicit frontier mode. */
  private def runMode(edges: DataFrame, root: String, tpe: CoStar.QueryType,
      level: Int, mode: FrontierMode,
      probe: (Int, Boolean) => Unit = (_, _) => ()): CoStar.Result = {
    val exp = BipartiteExpand.expandWithEdges(spark, edges, tpe.src, tpe.dst,
      lit(root), level, mode = mode, onLevelMode = probe)
    CoStar.Result(exp.vertices, exp.edges)
  }

  for (tpe <- Seq(CoStar.ActorQuery, CoStar.MovieQuery); level <- 1 to 4) {
    test(s"$tpe level $level: default path = forced Shuffle = oracle " +
        "(vertices, vertex edges, DOT), unknown root included") {
      val known = if (tpe == CoStar.ActorQuery) topActor else topMovie
      for (root <- Seq(known, unknownRoot)) {
        val want = oracleAnswer(root, tpe, level)
        assert(observe(root, tpe, CoStar.run(spark, sparkEdges, root, tpe, level)) == want,
          s"default path, root=$root")
        assert(observe(root, tpe,
          runMode(sparkEdges, root, tpe, level, FrontierMode.Shuffle)) == want,
          s"forced Shuffle, root=$root")
      }
    }
  }

  test("CoStar.run at level 4 plus its two collects runs at most 6 Spark jobs") {
    // two narrow jobs per driver-held level, and none for the collects:
    // a driver-held result is a local relation
    val sc = spark.sparkContext
    def jobs(): (Int, Int) = {
      val group = s"costar-jobcount-${System.nanoTime()}"
      sc.setJobGroup(group, "job-count pin", interruptOnCancel = false)
      def n = sc.statusTracker.getJobIdsForGroup(group).length
      try {
        val res = CoStar.run(spark, sparkEdges, topActor, CoStar.ActorQuery, 4)
        val query = n
        res.vertices.collect()
        res.vertexEdges(CoStar.ActorQuery).collect()
        (query, n - query)
      } finally sc.clearJobGroup()
    }
    jobs() // warm-up
    val (query, collects) = jobs()
    info(s"query jobs=$query collect jobs=$collects")
    assert(query <= 6, s"level-4 co-star query ran $query jobs")
    assert(collects == 0, s"the two collects of a driver-held result ran $collects jobs")
  }

  /** Run `body` over a freshly ingested, caller-persisted edge table
    * from an empty cache; afterwards only that table may be cached. */
  private def withOwnEdges(body: DataFrame => Unit): Unit = {
    spark.catalog.clearCache()
    val edges = ingest()
    try body(edges)
    finally edges.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty, "the query left cache entries behind")
  }

  /** Rows and driver-measured bytes of the level-1 collect from the top
    * actor: its (src, via, peer) triples, self rows included. */
  private lazy val level1Collect: (Long, Long) = {
    val rows = for ((m, a) <- oracleEdges.toSeq if a == topActor;
      (m2, p) <- oracleEdges if m2 == m) yield Row(topActor, m, p)
    (rows.size.toLong, rows.map(BipartiteExpand.rowBytes).sum)
  }

  for ((ceiling, mode) <- Seq(
      "row" -> (() => FrontierMode.Auto(maxBroadcastRows = level1Collect._1)),
      "byte" -> (() => FrontierMode.Auto(maxBroadcastBytes = level1Collect._2)))) {
    test(s"Auto whose $ceiling ceiling overflows mid-query gives identical results, no cache residue") {
      withOwnEdges { edges =>
        val modes = ArrayBuffer.empty[(Int, Boolean)]
        val got = observe(topActor, CoStar.ActorQuery, runMode(edges, topActor,
          CoStar.ActorQuery, 4, mode(), (l, b) => modes += ((l, b))))
        // level 1's collect fits the ceiling exactly, so level 2 starts
        // from a driver-held frontier; its collect would not fit, so it
        // and level 3 run distributed
        assert(modes.toList == List((1, true), (2, true), (3, false)), s"modes: $modes")
        assert(got == oracleAnswer(topActor, CoStar.ActorQuery, 4))
      }
    }
  }

  test("CoStar.run at levels 2-4 reuses the caller's edge cache in either column " +
      "order: no cache entry added, none left behind") {
    withOwnEdges { edges =>
      val sc = spark.sparkContext
      // every persisted RDD any stage of the queries touched
      val persisted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      val ended = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
          e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
            .foreach(i => persisted.add(i.id))
        override def onJobEnd(e: SparkListenerJobEnd): Unit = { ended.incrementAndGet(); () }
      }
      sc.addSparkListener(listener)
      val group = s"costar-cache-${System.nanoTime()}"
      try {
        sc.setJobGroup(group, "cache reuse pin", interruptOnCancel = false)
        for (tpe <- Seq(CoStar.ActorQuery, CoStar.MovieQuery); level <- 2 to 4) {
          val root = if (tpe == CoStar.ActorQuery) topActor else topMovie
          observe(root, tpe, CoStar.run(spark, edges, root, tpe, level))
        }
        val jobs = sc.statusTracker.getJobIdsForGroup(group).length
        sc.clearJobGroup()
        val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
        while (ended.get() < jobs && System.nanoTime() < deadline) Thread.sleep(20)
        assert(ended.get() >= jobs, "listener did not see every job end")
      } finally sc.removeSparkListener(listener)
      // the caller's cache is the only persisted RDD the queries read; an
      // entry added and released during a query is no longer registered
      val live = sc.getPersistentRDDs.keySet
      val transient = persisted.asScala.filterNot(live.contains)
      assert(transient.isEmpty, s"queries persisted and released RDDs $transient")
    }
  }
}
