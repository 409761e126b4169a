package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.functions.VectorFunctions.{vecDot, vecSqDist}

/** Lloyd k-means: the one centroid aggregation, assignment and loop
  * behind the coarse IVF cells, the per-subspace PQ codebooks (gate
  * rows and admission) and the one-step rows (`q_kmeans_step`,
  * `q_pq_encode`, `q_semantic_dedup`, `q_centroid_norm`).
  *
  * A point is a row with key columns `ids`, an array<double> `vecCol`
  * and optional `part` columns restricting it to the centroids with
  * equal `part` values (the PQ subspace `sub`). A centroid table is
  * (part..., cluster, cvec). Ties go to the smallest cluster id under
  * both metrics:
  *  - [[Cosine]] (spherical k-means): argmax through a per-point
  *    `row_number` window, optionally on a quantized key (see
  *    [[assign]]). Plain-mean centroids keep Lloyd's objective
  *    monotone, since cosine ignores scale (`KMeansSpec`);
  *  - [[L2]] (PQ): argmin through a `min(struct(d2, cluster))` hash
  *    aggregate — map-side partial, never a window sort (`PqSpec`).
  *
  * The loop, one policy for every caller: the points are persisted
  * once (the cache keeps the input's partitioning, so a corpus hashed
  * by id needs no exchange for the per-point argmax); each round cuts
  * its k-row centroid table with [[Checkpoints.cut]] (a reliable
  * checkpoint when `spark.graft.checkpointDir` is set) and broadcasts
  * it into the next assignment, so lineage never grows; [[train]] cuts
  * its final assignment the same way and releases the points before
  * returning. The points are persisted, not cut: a persist is not a
  * lineage cut, and a local checkpoint would lose the fan-out's hash
  * partitioning on the id (one more exchange per round).
  */
object KMeans {

  sealed trait Metric
  case object Cosine extends Metric
  case object L2 extends Metric

  /** Mean vector per group of `keys`: (keys..., cvec array<double>).
    * Every centroid in the engine is this aggregation. */
  def centroids(assigned: DataFrame, keys: Seq[String] = Seq("cluster"),
      vec: Column = col("e")): DataFrame = {
    val k = keys.map(col)
    assigned
      .select(k :+ posexplode(vec): _*)
      .groupBy(k :+ col("pos"): _*).agg(avg("col").as("m"))
      .groupBy(k: _*)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("cs"))
      .select(k :+ transform(col("cs"), x => x.getField("m")).as("cvec"): _*)
  }

  /** Assign each point (one row per `ids` key) to its best centroid
    * among those with equal `part` values. [[Cosine]] keeps the point
    * columns and adds `cluster` and the raw cosine `sim`;
    * `tieDecimals >= 0` rounds the argmax key (not `sim`), so an oracle
    * replaying the loop in another engine (the trained IVF rows' DuckDB
    * CTEs) cannot flip a near tie on a ~1e-15 summation-order
    * difference. [[L2]] returns (ids..., cluster, d2). */
  def assign(points: DataFrame, cent: DataFrame, ids: Seq[String],
      metric: Metric = Cosine, tieDecimals: Int = -1, vecCol: String = "e",
      part: Seq[String] = Nil): DataFrame = {
    VectorFunctions.register(points.sparkSession)
    val v = points.drop("cluster", "sim")
    val c = broadcast(cent.withColumnRenamed("cluster", "graft_c"))
    val pairs = if (part.isEmpty) v.crossJoin(c) else v.join(c, part)
    val x = col(vecCol)
    metric match {
      case Cosine =>
        val tieKey =
          if (tieDecimals >= 0) round(col("graft_sim"), tieDecimals)
          else col("graft_sim")
        // The row_number window stays: round 15 measured the
        // winner-identical max(struct(tieKey, −cluster, sim, cluster, e))
        // ~20% slower on every consumer (q_kmeans_run 1.07→1.29 s,
        // q_ivf_trained 1.21→1.46 s, q_ivfpq_search 3.6→4.4 s): Max over
        // a struct carrying the 64-dim vector falls back to interpreted
        // ordering. Each per-key group is k rows, no hub-size liability.
        pairs
          .withColumn("graft_sim", vecDot(x, col("cvec")) /
            (sqrt(vecDot(x, x)) * sqrt(vecDot(col("cvec"), col("cvec")))))
          .withColumn("graft_rn", row_number().over(
            Window.partitionBy(ids.map(col): _*)
              .orderBy(tieKey.desc, col("graft_c"))))
          .filter(col("graft_rn") === 1)
          .drop("cvec", "graft_rn")
          .withColumnRenamed("graft_c", "cluster")
          .withColumnRenamed("graft_sim", "sim")
      case L2 =>
        // the L2 argmin carries no vector payload, so the struct form
        // is a cheap hash aggregate here (unlike the cosine case above)
        pairs
          .withColumn("d2", vecSqDist(x, col("cvec")))
          .groupBy(ids.map(col): _*)
          .agg(min(struct(col("d2"), col("graft_c"))).as("best"))
          .select(ids.map(col) ++ Seq(col("best.graft_c").as("cluster"),
            col("best.d2").as("d2")): _*)
    }
  }

  /** `iters` Lloyd rounds over `points` (`ids`, `part`, `vecCol` and
    * an integer seed assignment `seedCol`: a label, `id % k`). Returns
    * the last centroid table and the assignment against it, both cut. */
  def train(points: DataFrame, ids: Seq[String], seedCol: String,
      iters: Int, metric: Metric, tieDecimals: Int = -1,
      vecCol: String = "e", part: Seq[String] = Nil)
      : (DataFrame, DataFrame) =
    lloyd(points, ids, seedCol, iters, metric, tieDecimals, vecCol, part) {
      (vecs, cent) =>
        (cent, Checkpoints.cut(
          assign(vecs, cent, ids, metric, tieDecimals, vecCol, part)))
    }

  /** [[train]]'s centroid table alone (admission's codebook): the final
    * assignment is never computed. */
  def fit(points: DataFrame, ids: Seq[String], seedCol: String,
      iters: Int, metric: Metric, tieDecimals: Int = -1,
      vecCol: String = "e", part: Seq[String] = Nil): DataFrame =
    lloyd(points, ids, seedCol, iters, metric, tieDecimals, vecCol, part)(
      (_, cent) => cent)

  /** The loop: persist the points, cut each round's centroid table,
    * hand (cached vectors, last centroids) to `finish`, release. */
  private def lloyd[A](points: DataFrame, ids: Seq[String], seedCol: String,
      iters: Int, metric: Metric, tieDecimals: Int, vecCol: String,
      part: Seq[String])(finish: (DataFrame, DataFrame) => A): A = {
    require(iters >= 1, s"k-means needs at least one round, got $iters")
    val pts = points.persist()
    val vecs = pts.select(((ids ++ part).distinct :+ vecCol).map(col): _*)
    def cut(members: DataFrame) =
      Checkpoints.cut(centroids(members, part :+ "cluster", col(vecCol)))
    var cent = cut(pts.withColumnRenamed(seedCol, "cluster"))
    (2 to iters).foreach { _ =>
      val asg = assign(vecs, cent, ids, metric, tieDecimals, vecCol, part)
      // the cosine window keeps each point's vector; the L2 aggregate
      // keeps only the keys, so its members re-join the cached points
      cent = cut(metric match {
        case Cosine => asg
        case L2 => vecs.join(asg.select((ids :+ "cluster").map(col): _*), ids)
      })
    }
    try finish(vecs, cent) finally pts.unpersist()
  }

  /** Cosine Lloyd rounds over `df` from `seedCol`: (idCol, cluster,
    * sim rounded to 4 decimals). */
  def run(df: DataFrame, idCol: String, vecCol: String, seedCol: String,
      iters: Int): DataFrame =
    train(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("e"),
        col(seedCol).cast("int").as("cluster")),
      Seq(idCol), "cluster", iters, Cosine)._2
      .select(col(idCol), col("cluster"), round(col("sim"), 4).as("sim"))
}
