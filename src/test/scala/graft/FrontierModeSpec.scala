package graft

import org.apache.spark.sql.functions._
import graft.query.BipartiteExpand
import graft.query.BipartiteExpand.FrontierMode

/** Pins the auto driver-held/shuffle frontier-path selection
  * ([[BipartiteExpand.FrontierMode.Auto]]): levels stay on the driver
  * while what they collect fits both ceilings, the first level that
  * would not switches to the shuffle path for the rest of the query,
  * every mode returns the identical vertex set with no cache residue,
  * and a driver-held level costs one bounded collect.
  */
class FrontierModeSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def edges = graft.operators.GraphQueries.copurchaseEdges(spark, dir)

  private def run(mode: FrontierMode,
      probe: (Int, Boolean) => Unit = (_, _) => ()): Set[Long] =
    BipartiteExpand.expand(spark, edges, "cust", "part", lit(0L), 4,
      mode = mode, onLevelMode = probe)
      .collect().map(_.getLong(0)).toSet

  test("auto switches broadcast → shuffle when the frontier outgrows the ceiling") {
    // start from a clean cache so the no-residue assertion below sees
    // only THIS test's caches (sibling suites may legitimately leave
    // cached tables behind)
    spark.catalog.clearCache()
    // level-1 frontier is the single root (broadcast); the level-2+
    // frontiers exceed a 1-row ceiling, forcing the shuffle path
    val modes = scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    val tiny = run(FrontierMode.Auto(maxBroadcastRows = 1L),
      (l, b) => modes += ((l, b)))
    assert(modes.toList.map(_._1) == List(1, 2, 3), s"levels ran: $modes")
    assert(modes.toList.map(_._2) == List(true, false, false),
      s"expected broadcast at level 1 then shuffle beyond the 1-row ceiling: $modes")
    assert(spark.sharedState.cacheManager.isEmpty,
      "auto switch leaked edge/frontier caches")
    assert(tiny == run(FrontierMode.Broadcast),
      "auto(tiny ceiling) diverged from the forced broadcast result")
  }

  test("auto keeps broadcasting under a generous ceiling") {
    spark.catalog.clearCache() // see above
    val modes = scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    val auto = run(FrontierMode.Auto(), (l, b) => modes += ((l, b)))
    assert(modes.forall(_._2),
      s"default ceiling should keep this small graph on broadcast: $modes")
    assert(auto == run(FrontierMode.Shuffle))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("auto's byte ceiling catches wide keys the row ceiling misses") {
    spark.catalog.clearCache() // see above
    import spark.implicits._
    // few hundred ROWS (far under any row ceiling) but megabytes of
    // key BYTES: ~3 KB composite string ids — the shape that blows a
    // driver broadcast budget while looking tiny by count
    val pad = "url/" + ("x" * 3000) + "/p"
    val wide = (0 until 300).flatMap { i =>
      Seq(("R", s"m$i"), (s"$pad$i", s"m$i"),          // R ↔ peers, hop ring 1
        (s"$pad$i", s"n$i"), (s"$pad-far-$i", s"n$i")) // peers ↔ far, ring 2
    }.toDF("cust", "part")
    def runWide(mode: FrontierMode,
        probe: (Int, Boolean) => Unit = (_, _) => ()): Set[String] =
      BipartiteExpand.expand(spark, wide, "cust", "part", lit("R"), 4,
        mode = mode, onLevelMode = probe)
        .collect().map(_.getString(0)).toSet
    val modes = scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    val got = runWide(
      FrontierMode.Auto(maxBroadcastRows = 1L << 20, maxBroadcastBytes = 64L << 10),
      (l, b) => modes += ((l, b)))
    // level 1's frontier is the 1-row root (broadcast); level 2+ carry
    // the ~1 MB-cached wide-key frontiers — rows ≪ ceiling, bytes over
    assert(modes.toList.map(_._1) == List(1, 2, 3), s"levels ran: $modes")
    assert(modes.toList.map(_._2) == List(true, false, false),
      s"wide keys must trip the byte ceiling despite the tiny row count: $modes")
    assert(got == runWide(FrontierMode.Broadcast),
      "byte-ceiling switch changed the result set")
    // the same graph under the DEFAULT ceilings stays on broadcast:
    // narrow row counts only trip the byte test when genuinely wide
    val defModes = scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    runWide(FrontierMode.Auto(), (l, b) => defModes += ((l, b)))
    assert(defModes.forall(_._2),
      s"default 64 MiB ceiling should keep this small graph on broadcast: $defModes")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a frontier too large to inline is broadcast from the driver: same answer as shuffle") {
    spark.catalog.clearCache() // see above
    import spark.implicits._
    // root 0 shares part i with customer i (i = 1..n); customer i shares
    // part n+i with customer n+i — level 2's frontier is n customers,
    // above the inline limit, and every level stays small
    val n = 3000L
    val g = (1L to n).flatMap(i =>
      Seq((0L, i), (i, i), (i, n + i), (n + i, n + i))).toDF("cust", "part")
    def run(mode: FrontierMode): (Set[Long], Set[(Long, Long, Long)]) = {
      val x = BipartiteExpand.expandWithEdges(spark, g, "cust", "part", lit(0L), 3,
        mode = mode)
      (x.vertices.collect().map(_.getLong(0)).toSet,
        x.edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
    }
    val modes = scala.collection.mutable.ArrayBuffer[(Int, Boolean)]()
    val vs = BipartiteExpand.expand(spark, g, "cust", "part", lit(0L), 3,
      onLevelMode = (l, b) => modes += ((l, b))).collect().map(_.getLong(0)).toSet
    assert(modes.toList == List((1, true), (2, true)), s"modes: $modes")
    assert(vs == (0L to 2 * n).toSet)
    val (evs, es) = run(FrontierMode.Auto())
    assert(evs == vs)
    assert(es.size == 3 * n, s"${es.size} edges") // (0,i,i), (i,i,0), (i,n+i,n+i)
    assert((evs, es) == run(FrontierMode.Shuffle))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a driver-held level costs one bounded collect: at most 4 jobs") {
    // The stable signal is the MARGINAL cost of one more level: a
    // driver-held level is one bounded collect — the frontier's
    // broadcast from the driver, the hop-1 broadcast, the distinct's
    // shuffle stage and the result stage, each an AQE job. The round-5
    // shape spent two probe barriers per level, and the persist+count
    // shape that followed it up to 10 jobs. A regression that adds a
    // per-level probe or action trips this.
    val sc = spark.sparkContext
    def jobsAt(level: Int): Int = {
      val group = s"frontier-jobcount-$level-${System.nanoTime()}"
      sc.setJobGroup(group, "job-count pin", interruptOnCancel = false)
      try {
        BipartiteExpand.expand(spark, edges, "cust", "part", lit(0L), level,
          mode = FrontierMode.Broadcast)
        sc.statusTracker.getJobIdsForGroup(group).length
      } finally sc.clearJobGroup()
    }
    jobsAt(3) // warm-up: JIT + parquet footer caches off the measurement
    val l3 = jobsAt(3)
    val l4 = jobsAt(4)
    info(s"jobs: level3=$l3 level4=$l4 marginal=${l4 - l3}")
    assert(l4 - l3 >= 1 && l4 - l3 <= 4,
      s"one extra BFS level cost ${l4 - l3} jobs (level3=$l3, level4=$l4) — " +
      "expected one bounded collect")
  }
}
