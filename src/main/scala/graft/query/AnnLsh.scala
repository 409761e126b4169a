package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Signed-random-projection (SRP) LSH for approximate nearest
  * neighbor — the bucketed scale path next to [[graft.operators
  * .VectorQueries]]'s IVF variant: `nBits` fixed hyperplanes hash
  * every vector to a sign-bit bucket; a query searches only buckets
  * within Hamming distance ≤ `probes` of its own (multi-probe), so
  * the scan cost is corpus/2^nBits × probed buckets instead of the
  * full table.
  *
  * Hyperplanes are generated from a fixed seed — deterministic across
  * runs and partitionings (re-runs give identical buckets), shipped to
  * executors as literal arrays (tiny: nBits × dim doubles).
  */
object AnnLsh {

  def planes(dim: Int, nBits: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  private def bucketCol(vecCol: Column, ps: Array[Array[Double]]): Column =
    ps.zipWithIndex.map { case (p, j) =>
      when(VectorFunctions.vecDot(vecCol, typedlit(p.toSeq)) > 0, 1 << j)
        .otherwise(0)
    }.reduce(_ + _)

  /** Assign every row its SRP bucket (column `bucket`). */
  def bucketed(df: DataFrame, vecCol: String, ps: Array[Array[Double]]): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    df.withColumn("bucket", bucketCol(col(vecCol).cast("array<double>"), ps))
  }

  /** `nTables` independent SRP tables (OR-amplification): every row
    * explodes to one (`table`, `bucket`) pair per table, all `nTables ×
    * nBits` hyperplane dots evaluated in a single scan-stage pass
    * through the fused [[VectorFunctions.srpBuckets]] expression (one
    * tight loop over the whole plane matrix — the composable
    * per-plane-dot form measured ~10× slower at 8 bits × 8 tables;
    * bucket ids are bit-identical, see [[graft.functions.SrpBuckets]]).
    * Pairs colliding in ANY table become candidates — per-pair miss
    * probability is (1 - (1 - θ/π)^nBits)^nTables for angle θ, driven
    * arbitrarily low by adding tables without touching bucket sizes. */
  def bucketedMulti(df: DataFrame, vecCol: String, dim: Int, nBits: Int,
      nTables: Int, seed: Long = 42L): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val v = col(vecCol).cast("array<double>")
    val ps = (0 until nTables).toArray.flatMap(t => planes(dim, nBits, seed + t))
    df.select(col("*"),
      posexplode(VectorFunctions.srpBuckets(v, ps, nBits, nTables, dim))
        .as(Seq("table", "bucket")))
  }

  private def bucketOf(q: Array[Double], ps: Array[Array[Double]]): Int =
    ps.zipWithIndex.map { case (p, j) =>
      if (p.zip(q).map { case (a, b) => a * b }.sum > 0) 1 << j else 0
    }.sum

  /** All buckets within Hamming distance ≤ `radius` of `qb`. */
  private def probedBuckets(qb: Int, nBits: Int, radius: Int): Seq[Int] =
    (0 until (1 << nBits)).filter(m => Integer.bitCount(m) <= radius)
      .map(qb ^ _)

  /** Candidate predicate for [[searchMulti]]: true iff the row's vector
    * lands within Hamming distance ≤ `probeRadius` of the query's
    * bucket in ANY of the `nTables` SRP tables. Exposed so callers
    * (and the recall spec) can measure the scan fraction the probe
    * actually touches. */
  def probeCondition(vecCol: Column, query: Array[Double], dim: Int,
      nBits: Int, nTables: Int, probeRadius: Int, seed: Long = 42L): Column = {
    val v = vecCol.cast("array<double>")
    // One fused srpBuckets pass computes all nTables bucket ids (the
    // per-table bucketCol form re-evaluates nTables × nBits separate
    // VecDot trees per row — the known ~10× scan-stage regression, see
    // [[graft.functions.SrpBuckets]]); the per-table probe is then a
    // cheap int membership test. Bucket ids are bit-identical to the
    // composable form, so the probe set is unchanged.
    val ps2d = (0 until nTables).toArray.flatMap(t => planes(dim, nBits, seed + t))
    val bks = VectorFunctions.srpBuckets(v, ps2d, nBits, nTables, dim)
    (0 until nTables).map { t =>
      val ps = planes(dim, nBits, seed + t)
      val cand = probedBuckets(bucketOf(query, ps), nBits, probeRadius)
      element_at(bks, t + 1).isin(cand: _*)
    }.reduce(_ || _)
  }

  /** Multi-table multi-probe top-k cosine search: a row is a candidate
    * if it collides with the query (within `probeRadius` sign flips)
    * in ANY of `nTables` independent SRP tables; candidates then get
    * the exact codegen'd cosine and a TakeOrderedAndProject top-k.
    * Pure scan-stage work — no join, no shuffle beyond the top-k merge.
    *
    * Defaults (8 bits × 5 tables × radius 2) are tuned on the synthetic
    * embeddings to hold recall@10 ≥ 0.8 (see `AnnLshSpec` and
    * docs/ann_recall.md for the measured recall-vs-scan-fraction
    * curve). Note the synthetic corpus is i.i.d. Gaussian — true
    * neighbors are barely closer than random (cos ≈ 0.25-0.4), the
    * worst case for any LSH; clustered real-world embeddings prune far
    * more at the same recall. */
  def searchMulti(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, dim: Int, nBits: Int = 8,
      nTables: Int = 5, probeRadius: Int = 2, seed: Long = 42L): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val qc = typedlit(query.toSeq)
    val v = col(vecCol).cast("array<double>")
    df.filter(probeCondition(col(vecCol), query, dim, nBits, nTables,
        probeRadius, seed))
      .select(col(idCol),
        (VectorFunctions.vecDot(v, qc) /
          (sqrt(VectorFunctions.vecDot(v, v)) *
           sqrt(VectorFunctions.vecDot(qc, qc)))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }

  /** Bucketed k-NN graph — the scale path for the exact all-pairs
    * `q_knn_graph` baseline: candidate neighbors of a vector are the
    * rows sharing an SRP (table, bucket) cell with it in ANY table,
    * ranked by the exact codegen'd cosine, top `k` kept per vector.
    * Directed output (id, nbr, rank, cos_sim) — both directions of a
    * close pair appear, like the exact form. The signature table is
    * persisted once (self-join, same rule as
    * [[graft.dedup.Dedup.embedNearDupBucketed]]); at high `nBits`
    * random vectors land in singleton buckets, so candidate volume
    * tracks the true near-neighbor structure instead of n². Recall vs
    * the exact graph is spec-pinned on the planted corpus
    * (`KnnBucketedSpec`). */
  def knnGraphBucketed(df: DataFrame, idCol: String, vecCol: String,
      k: Int, dim: Int, nBits: Int = 16, nTables: Int = 4,
      seed: Long = 42L): DataFrame = {
    val (graph, release) = knnGraphBucketedPlan(
      df, idCol, vecCol, k, dim, nBits, nTables, seed)
    // Materialize the n×k result while the signature cache is alive,
    // then release it (materialize-then-release, see
    // [[graft.dedup.Dedup.embedNearDupBucketed]]) — the persist must
    // not outlive the query it serves.
    val out = Checkpoints.cut(graph)
    release()
    out
  }

  /** Lazy twin of [[knnGraphBucketed]] for `PlanGuardSpec`'s
    * equi-join pin (the public form's materialization hides the join
    * tree behind a checkpoint-RDD scan). */
  private[graft] def knnGraphBucketedPlan(df: DataFrame, idCol: String,
      vecCol: String, k: Int, dim: Int, nBits: Int = 16, nTables: Int = 4,
      seed: Long = 42L): (DataFrame, () => Unit) = {
    VectorFunctions.register(df.sparkSession)
    val bk = bucketedMulti(
      df.select(col(idCol), col(vecCol).cast("array<double>").as("graft_e"))
        .withColumn("graft_n",
          sqrt(VectorFunctions.vecDot(col("graft_e"), col("graft_e")))),
      "graft_e", dim, nBits, nTables, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val a = bk.select(col(idCol), col("graft_e").as("ea"),
      col("graft_n").as("na"), col("table"), col("bucket"))
    val b = bk.select(col(idCol).as("nbr"), col("graft_e").as("eb"),
      col("graft_n").as("nb"), col("table"), col("bucket"))
    val graph = a.join(b, Seq("table", "bucket"))
      .filter(col(idCol) =!= col("nbr"))
      .select(col(idCol), col("nbr"),
        (VectorFunctions.vecDot(col("ea"), col("eb")) / (col("na") * col("nb")))
          .as("c"))
      .distinct()
      .withColumn("rank", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(idCol).orderBy(col("c").desc, col("nbr"))))
      .filter(col("rank") <= k)
      .select(col(idCol), col("nbr"), col("rank"), round(col("c"), 4).as("cos_sim"))
    (graph, () => { bk.unpersist(); () })
  }

  /** Multi-probe top-k cosine search: scan only buckets within Hamming
    * distance ≤ `probes` of the query's bucket. */
  def search(df: DataFrame, idCol: String, vecCol: String,
      query: Array[Double], k: Int, ps: Array[Array[Double]],
      probes: Int = 1): DataFrame = {
    VectorFunctions.register(df.sparkSession)
    val qb = bucketOf(query, ps)
    val candidates: Seq[Int] =
      if (probes == 0) Seq(qb)
      else qb +: ps.indices.map(j => qb ^ (1 << j))
    val qc = typedlit(query.toSeq)
    val v = col(vecCol).cast("array<double>")
    bucketed(df, vecCol, ps)
      .filter(col("bucket").isin(candidates: _*))
      .select(col(idCol),
        (VectorFunctions.vecDot(v, qc) /
          (sqrt(VectorFunctions.vecDot(v, v)) *
           sqrt(VectorFunctions.vecDot(qc, qc)))).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col(idCol))
      .limit(k)
  }
}
