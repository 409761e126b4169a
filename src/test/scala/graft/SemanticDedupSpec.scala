package graft

import org.apache.spark.sql.functions._
import graft.dedup.SemanticDedup
import graft.operators.VectorQueries
import graft.query.KMeans
import graft.sources.Tables

/** Contracts of the production [[SemanticDedup.run]] API (round-9
  * verdict item 2): the cluster assignment is evaluated ONCE (both
  * self-join sides read the persisted assignment), nothing stays
  * cached after the call, the join tree is cartesian-free, and the
  * survivor rule matches a driver-side brute force. */
class SemanticDedupSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def planted() = VectorQueries.plantedEmbeddings(spark, dir)

  private def centroids() = {
    val emb = Tables.embeddings(spark, dir)
    KMeans.centroids(emb.select(col("label").as("cluster"),
      col("embedding").cast("array<double>").as("e")))
  }

  test("both self-join sides read the single persisted assignment") {
    val (plan, release) = SemanticDedup.runPlan(
      planted(), "vec_id", "e", centroids(), 0.99)
    try {
      val p = plan.queryExecution.executedPlan.toString
      val scans = "InMemoryTableScan".r.findAllIn(p).size
      // pair-join sides + the final survivor join's left side
      assert(scans >= 3,
        s"want every assignment consumer on the cache, got $scans InMemoryTableScans\n${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), "pair stage must be an equi-join")
      // the assignment itself (centroid broadcast + per-vector window)
      // must appear ONCE — inside the cached relation, not re-derived
      // per consumer: outside InMemoryRelation the plan has no Window
      val outside = p.linesIterator
        .takeWhile(l => !l.contains("InMemoryRelation")).mkString("\n")
      assert(!outside.contains("Window"),
        s"assignment window re-computed outside the cache:\n${outside.take(1200)}")
    } finally release()
  }

  test("nothing stays cached after run()") {
    // same precondition discipline as CacheHygieneSpec: another suite
    // may legitimately hold session-lifetime caches in the shared JVM
    spark.catalog.clearCache()
    assert(spark.sharedState.cacheManager.isEmpty,
      "precondition: CacheManager not empty after clearCache")
    val out = SemanticDedup.run(planted(), "vec_id", "e", centroids(), 0.99)
    assert(out.count() > 0)
    assert(spark.sharedState.cacheManager.isEmpty,
      "run() must release its assignment cache")
  }

  test("survivor rule matches a driver-side brute force") {
    val out = SemanticDedup.run(planted(), "vec_id", "e", centroids(), 0.99)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2)))
    // brute force: per cluster, kept(v) iff no smaller-id member with
    // cosine >= threshold
    val asg = KMeans.assign(
      planted().select(col("vec_id"), col("e")), centroids(), Seq("vec_id"))
      .select("vec_id", "e", "cluster")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var (d, na, nb, i) = (0.0, 0.0, 0.0, 0)
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = asg.groupBy(_._3)
    val want = asg.map { case (id, e, c) =>
      val kept = !byCluster(c).exists { case (id2, e2, _) =>
        id2 < id && cos(e2, e) >= 0.99
      }
      id -> ((c, kept))
    }.toMap
    assert(out.length == asg.length)
    val planted5 = out.count(!_._3)
    assert(planted5 > 0, "the planted twin corpus must produce losers")
    out.foreach { case (id, c, k) =>
      assert(want(id) == ((c, k)), s"vec $id: got ($c,$k), want ${want(id)}")
    }
  }
}
