package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Library surface for the graph analytics the catalog exposes as
  * `q_triangle_count` / `q_kcore` / `q_sssp` / `q_link_predict` /
  * `q_pagerank`: the same algorithm cores, parameterized over ANY
  * canonical undirected edge list (`a < b`, one row per edge), so a
  * user can run them on their own graph and [[graft.tools.Scale]]
  * can measure them on replicated corpora. The catalog rows in
  * [[graft.operators.GraphQueries]] delegate here — the oracle gate
  * checks THESE implementations.
  *
  * Design rules shared by every algorithm (the 100 TB contract):
  * equi-joins and partial-aggregating groupBys only — no windows, no
  * cartesians; iteration lineage is localCheckpoint-cut (the BFS
  * policy from [[BipartiteExpand]]); all ranking/weight arithmetic is
  * 64-bit integer, so results are bit-reproducible under any
  * partitioning.
  */
object GraphAlgos {

  /** Default iteration-lineage cut: [[Checkpoints.cut]] (eager
    * localCheckpoint locally, reliable checkpoint when the session sets
    * `spark.graft.checkpointDir`). Specs pass `identity` to inspect
    * the LAZY join tree — the eager form hides every internal join
    * behind an RDD scan, so a plan guard that only stringifies the
    * final plan sees nothing (round-11 review finding);
    * [[graft.PlanGuardSpec]] pins the lazy twins. */
  val defaultCut: DataFrame => DataFrame = Checkpoints.cut

  /** Both orientations (u, v) of a canonical (a < b) edge list. */
  def undirect(e: DataFrame): DataFrame =
    e.select(col("a").as("u"), col("b").as("v"))
      .unionAll(e.select(col("b").as("u"), col("a").as("v")))

  /** Degree-ordered node-iterator triangle count (Suri &
    * Vassilvitskii, WWW'11): orient from the lower-(degree, id)
    * endpoint — out-degree capped at O(√m) — enumerate wedges at
    * out-edges, close against the edge set. Returns
    * (metric ∈ {edges, triangles}, n). */
  def triangleCount(e0: DataFrame): DataFrame = {
    // The edge list feeds five consumers (degree union ×2, the
    // oriented projection, the wedge-closure probe, the edge count) —
    // cut it once so the caller's pair-generator subtree runs once,
    // not once per consumer (measured ~25% of q_triangle_count at
    // sf0.1; at any scale it is 4 saved re-derivations of the
    // co-order projection). Same boundary rule as jaccardPairs /
    // the Curation cuts.
    val e = Checkpoints.cut(e0)
    val deg = e.select(col("a").as("v"))
      .unionAll(e.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("dg"))
    val oriented = e
      .join(deg.select(col("v").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("dg").as("db")), "b")
      .select(
        when(col("da") <= col("db"), col("a")).otherwise(col("b")).as("src"),
        when(col("da") <= col("db"), col("b")).otherwise(col("a")).as("dst"))
    // Pin the wedge-join exchange at session parallelism: AQE sizes
    // post-shuffle partitions by INPUT bytes, and the oriented edge
    // list is tiny relative to the wedge fan-out it generates —
    // measured at sf0.1: a 3.2 MB input coalesced to 3 partitions
    // that then carried 16.5 s of wedge+closure work (the slowest
    // stage of the query). The explicit count keeps the exchange at
    // full width; per-partition work stays even WITHOUT AQE skew
    // splitting because the degree orientation above caps every src's
    // out-degree at O(√m) — bounding per-key wedge work is exactly
    // what the orientation is for. Both self-join sides read the same
    // exchange (reused), so this adds no shuffle over the plain form.
    val p = e.sparkSession.sparkContext.defaultParallelism
    val wide = oriented.repartition(p, col("src"))
    val wedges = wide.as("e1").join(wide.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") < col("e2.dst"))
      .select(col("e1.dst").as("a"), col("e2.dst").as("b"))
    val tri = wedges.join(e, Seq("a", "b"))
    e.agg(count(lit(1)).as("n"))
      .select(lit("edges").as("metric"), col("n"))
      .unionAll(tri.agg(count(lit(1)).as("n"))
        .select(lit("triangles").as("metric"), col("n")))
      .orderBy("metric")
  }

  /** DOULION sampled triangle estimate (Tsourakakis, Kang, Miller &
    * Faloutsos, KDD'09): keep each edge with probability p = 1/pInv
    * (here a DETERMINISTIC md5 coin on the canonical edge key, so the
    * estimate is reproducible and oracle-checkable), count triangles
    * on the sparsified graph with [[triangleCount]]'s degree-ordered
    * enumerator, scale by 1/p³. The 100 TB tier of exact counting:
    * the wedge join runs on ~p·m edges — at p = 1/2 a quarter of the
    * wedge candidates — with unbiased E[T̂] = t and
    * Var[T̂] = t(1/p³−1) + 2k(1/p−1) (k = triangle pairs sharing an
    * edge); `GraphOpsSpec` pins the 3σ bound against the exact count.
    * Returns (metric ∈ {edges_kept, triangles_estimate,
    * triangles_sampled}, n) — the estimate exact-integer at integer
    * pInv (scale = pInv³), so the row hash-checks. */
  def triangleCountDoulion(e: DataFrame, pInv: Int): DataFrame = {
    require(pInv >= 1, s"pInv must be a positive integer, got $pInv")
    val kept = e.filter(
      graft.functions.TextFunctions.unitHash(
        concat_ws("|", lit("tri"), col("a"), col("b")))
        <= lit(1.0) / pInv)
    val base = triangleCount(kept)
    base.select(
        when(col("metric") === "edges", lit("edges_kept"))
          .otherwise(lit("triangles_sampled")).as("metric"), col("n"))
      .unionAll(base.filter(col("metric") === "triangles")
        .select(lit("triangles_estimate").as("metric"),
          (col("n") * lit(pInv.toLong * pInv * pInv)).as("n")))
      .orderBy("metric")
  }

  /** k-core peeling (Matula & Beck), `rounds` synchronous rounds:
    * drop vertices with current degree < k, restrict edges to
    * survivor–survivor, repeat. Returns (rnd, survivors) per round. */
  def kCore(e: DataFrame, k: Int, rounds: Int,
      cut: DataFrame => DataFrame = defaultCut): DataFrame = {
    var ee = cut(undirect(e))
    var out: DataFrame = null
    for (r <- 1 to rounds) {
      val surv = ee.groupBy("u").agg(count(lit(1)).as("dg"))
        .filter(col("dg") >= k).select("u")
      val row = surv.agg(count(lit(1)).as("survivors"))
        .select(lit(r).as("rnd"), col("survivors"))
      out = if (out == null) row else out.unionAll(row)
      ee = cut(
        ee.join(surv, Seq("u"), "left_semi")
          .join(surv.withColumnRenamed("u", "v"), Seq("v"), "left_semi")
          .select("u", "v"))
    }
    out.orderBy("rnd")
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg):
    * non-adjacent pairs with ≥ `minCn` shared neighbors, wedge
    * enumeration restricted to centers of degree ≤ `degCap` (the
    * Σ deg² hub guard). Returns (part_a, part_b, cn), best first. */
  /** Undirected degree table (u, dg) — the ONE definition of "degree"
    * shared by the wedge hub cap in [[commonNeighbors]] and the
    * Jaccard denominator in `q_jaccard_neighbors`. */
  def degrees(e: DataFrame): DataFrame =
    undirect(e).groupBy("u").agg(count(lit(1)).as("dg"))

  def commonNeighbors(e: DataFrame, degCap: Int, minCn: Long): DataFrame = {
    val ee = undirect(e)
    val deg = degrees(e)
    val capped = ee.join(deg.filter(col("dg") <= degCap).select("u"), "u")
    val cand = capped.as("x").join(capped.as("y"),
        col("x.u") === col("y.u") && col("x.v") < col("y.v"))
      .select(col("x.v").as("part_a"), col("y.v").as("part_b"))
    cand.groupBy("part_a", "part_b").agg(count(lit(1)).as("cn"))
      .join(e.select(col("a").as("part_a"), col("b").as("part_b")),
        Seq("part_a", "part_b"), "left_anti")
      .filter(col("cn") >= minCn)
      .orderBy(desc("cn"), col("part_a"), col("part_b"))
  }

  /** Exact |Γa ∩ Γb| for an already-BOUNDED candidate pair set
    * (part_a, part_b) — the re-scoring stage behind
    * `q_jaccard_neighbors`: [[commonNeighbors]]' wedge count is
    * hub-CAPPED (witnesses at centers with deg > degCap are not
    * enumerated), so dividing it by exact degrees biases a Jaccard
    * score LOW whenever the cap binds (round-11 advice). Candidate
    * GENERATION keeps the capped Σ deg² guard; the surviving pairs
    * are then scored exactly here: two equi-joins against the
    * undirected adjacency (pair → a's neighbors, matched on b's
    * neighbor rows) + one partial-aggregating count. Cost is
    * Σ_pairs deg(a) join rows — linear in the work any exact
    * set-intersection must do, and driven by the bounded pair set,
    * never all-pairs. Returns (part_a, part_b, cn). */
  def exactCommonNeighbors(e: DataFrame, pairs: DataFrame): DataFrame = {
    val ee = undirect(e)
    pairs.select("part_a", "part_b")
      .join(ee.select(col("u").as("part_a"), col("v").as("w")), "part_a")
      .join(ee.select(col("u").as("part_b"), col("v").as("w")),
        Seq("part_b", "w"))
      .groupBy("part_a", "part_b").agg(count(lit(1)).as("cn"))
  }

  /** `rounds` synchronous Bellman-Ford relaxations from the seed set
    * `seedPred(u)` with deterministic integer weights
    * w = 1 + (a+b) mod 9. Returns (u, dist) over the reached set. */
  def sssp(e: DataFrame, seedPred: Column => Column, rounds: Int,
      cut: DataFrame => DataFrame = defaultCut): DataFrame = {
    val ew = e.withColumn("w", lit(1L) + (col("a") + col("b")) % 9)
    val ee = cut(
      ew.select(col("a").as("u"), col("b").as("v"), col("w"))
        .unionAll(ew.select(col("b").as("u"), col("a").as("v"), col("w"))))
    var dist = ee.select("u").distinct()
      .filter(seedPred(col("u")))
      .withColumn("dist", lit(0L))
    for (_ <- 1 to rounds) {
      dist = cut(
        dist.unionAll(
            ee.join(dist, "u")
              .select(col("v").as("u"), (col("dist") + col("w")).as("dist")))
          .groupBy("u").agg(min("dist").as("dist")))
    }
    dist.orderBy("u")
  }

  /** `iters` synchronous PageRank power iterations at damping 0.85 in
    * exact 64-bit fixed point (mass base 10^12, floor division — see
    * the q_pagerank scaladoc for the overflow/floor-loss sizing).
    * Returns (id, pr_fx), highest rank first. */
  def pageRank(e: DataFrame, iters: Int,
      cut: DataFrame => DataFrame = defaultCut): DataFrame = {
    val ee = cut(undirect(e))
    val deg = ee.groupBy("u").agg(count(lit(1)).as("od"))
    val n = deg.agg(count(lit(1)).as("nn"))
    val p0 = cut(
      deg.crossJoin(broadcast(n))
        .select(col("u").as("id"),
          expr("CAST(1000000000000 div nn AS LONG)").as("pr")))
    var pr = p0
    for (_ <- 1 to iters) {
      val contrib = ee.join(pr.withColumnRenamed("id", "u"), "u")
        .join(deg, "u")
        .groupBy(col("v").as("id")).agg(sum(expr("pr div od")).as("m"))
      pr = cut(
        p0.select("id").join(contrib, Seq("id"), "left")
          .crossJoin(broadcast(n))
          .select(col("id"), expr(
            "CAST((15 * (1000000000000 div nn)) div 100" +
            " + (85 * coalesce(m, 0L)) div 100 AS LONG)").as("pr")))
    }
    pr.select(col("id"), col("pr").as("pr_fx"))
      .orderBy(desc("pr_fx"), col("id"))
  }
}
