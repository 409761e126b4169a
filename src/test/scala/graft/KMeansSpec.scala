package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.query.KMeans
import graft.sources.Tables

/** Lloyd-iteration guarantees for [[KMeans]]: `train` equals a
  * plain-Scala Lloyd loop under both metrics (centroids, codes, the
  * smallest-id tie rule, `tieDecimals` quantization); the spherical
  * objective (mean max-cosine) is non-decreasing per round; on the
  * planted corpus (real clusters) assignments group twins with their
  * base. */
class KMeansSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.01"

  // ---- plain-Scala reference ------------------------------------------

  private type Vec = Array[Double]

  private def dot(a: Vec, b: Vec): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  private def sqDist(a: Vec, b: Vec): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  private def cosine(a: Vec, b: Vec): Double =
    dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

  private def roundTo(x: Double, decimals: Int): Double =
    BigDecimal(x).setScale(decimals, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Best centroid id: cosine maximizes the (optionally quantized)
    * similarity, L2 minimizes the squared distance; ties go to the
    * smallest id under both. */
  private def best(p: Vec, cent: Map[Int, Vec], metric: KMeans.Metric,
      tieDecimals: Int): Int =
    cent.toSeq.map { case (c, v) =>
      val key = metric match {
        case KMeans.Cosine =>
          val sim = cosine(p, v)
          -(if (tieDecimals >= 0) roundTo(sim, tieDecimals) else sim)
        case KMeans.L2 => sqDist(p, v)
      }
      (key, c)
    }.min._2

  private def mean(vs: Seq[Vec]): Vec =
    vs.transpose.map(_.sum / vs.length).toArray

  /** `iters` Lloyd rounds over (id, vector, seed); returns the last
    * centroids and the assignment against them. */
  private def lloyd(pts: Seq[(Long, Vec, Int)], iters: Int,
      metric: KMeans.Metric, tieDecimals: Int = -1)
      : (Map[Int, Vec], Map[Long, Int]) = {
    var asg = pts.map(p => p._1 -> p._3).toMap
    var cent = Map.empty[Int, Vec]
    (1 to iters).foreach { _ =>
      cent = pts.groupBy(p => asg(p._1)).map { case (c, ms) => c -> mean(ms.map(_._2)) }
      asg = pts.map(p => p._1 -> best(p._2, cent, metric, tieDecimals)).toMap
    }
    (cent, asg)
  }

  // ---- inline fixtures --------------------------------------------------

  /** 24 points around three well-separated directions, seeded so that
    * Lloyd has to move most of them. */
  private val points: Seq[(Long, Vec, Int)] = (0L until 24L).map { i =>
    val base = Array.tabulate(4)(d => if (d == i % 3) 5.0 else 0.0)
    val v = Array.tabulate(4)(d => base(d) + 0.7 * math.sin(i * 1.7 + d * 2.3) + 1.0)
    (i, v, ((i / 2) % 3).toInt)
  }

  private def pointsDf(): DataFrame = {
    import spark.implicits._
    points.map { case (i, v, s) => (i, v.toSeq, s) }.toDF("id", "e", "seed")
  }

  private def centMap(cent: DataFrame): Map[Int, Vec] =
    cent.collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap

  private def assertCentroids(got: Map[Int, Vec], want: Map[Int, Vec]): Unit = {
    assert(got.keySet == want.keySet)
    want.foreach { case (c, w) =>
      assert(got(c).length == w.length)
      got(c).zip(w).foreach { case (g, x) =>
        assert(math.abs(g - x) <= 1e-12 * math.max(1.0, math.abs(x)),
          s"centroid $c: ${got(c).mkString(",")} vs ${w.mkString(",")}")
      }
    }
  }

  for (metric <- Seq(KMeans.Cosine, KMeans.L2); iters <- Seq(1, 3))
    test(s"train equals a plain-Scala Lloyd loop: $metric, $iters round(s)") {
      val (cent, asg) = KMeans.train(pointsDf(), Seq("id"), "seed", iters, metric)
      val (wantCent, wantAsg) = lloyd(points, iters, metric)
      assertCentroids(centMap(cent), wantCent)
      val got = asg.select("id", "cluster").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == wantAsg)
      // the fixture must make Lloyd do work, or the comparison is idle
      assert(wantAsg.count { case (id, c) => points(id.toInt)._3 != c } > 8)
    }

  test("train per part equals one plain-Scala Lloyd loop per part (L2)") {
    import spark.implicits._
    // two parts ("subspaces") of 2 dims each, trained independently
    val rows = for ((i, v, s) <- points; sub <- 0 until 2)
      yield (i, sub, v.slice(sub * 2, sub * 2 + 2).toSeq, s)
    val (cent, asg) = KMeans.train(rows.toDF("id", "sub", "sv", "seed"),
      Seq("id", "sub"), "seed", iters = 2, KMeans.L2, vecCol = "sv",
      part = Seq("sub"))
    val gotAsg = asg.collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val gotCent = cent.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
    (0 until 2).foreach { sub =>
      val (wantCent, wantAsg) = lloyd(
        points.map { case (i, v, s) => (i, v.slice(sub * 2, sub * 2 + 2), s) },
        iters = 2, KMeans.L2)
      assertCentroids(gotCent.collect { case ((`sub`, c), v) => c -> v }.toMap,
        wantCent)
      assert(gotAsg.collect { case ((i, `sub`), c) => i -> c } == wantAsg)
    }
  }

  test("ties go to the smallest cluster id under both metrics") {
    import spark.implicits._
    // (1, 1) is exactly as close to (1, 0) as to (0, 1) under either
    // metric; the larger id comes first in the table
    val cent = Seq((7, Seq(1.0, 0.0)), (3, Seq(0.0, 1.0))).toDF("cluster", "cvec")
    val p = Seq((0L, Seq(1.0, 1.0))).toDF("id", "e")
    for (metric <- Seq(KMeans.Cosine, KMeans.L2)) {
      val got = KMeans.assign(p, cent, Seq("id"), metric)
        .select("cluster").head.getInt(0)
      assert(got == 3, s"$metric tie went to cluster $got")
    }
  }

  test("tieDecimals quantizes the cosine argmax key, not the reported sim") {
    import spark.implicits._
    // cos((1, 0), (1, 1e-6)) = 1 - 5e-13: cluster 5 wins on the raw
    // similarity, and the two tie at 9 decimals, where cluster 2 wins
    val cent = Seq((5, Seq(1.0, 0.0)), (2, Seq(1.0, 1e-6))).toDF("cluster", "cvec")
    val p = Seq((0L, Seq(1.0, 0.0))).toDF("id", "e")
    val centM = Map(5 -> Array(1.0, 0.0), 2 -> Array(1.0, 1e-6))
    for (tie <- Seq(-1, 9)) {
      val r = KMeans.assign(p, cent, Seq("id"), KMeans.Cosine, tieDecimals = tie)
        .select("cluster", "sim").head
      assert(r.getInt(0) == best(Array(1.0, 0.0), centM, KMeans.Cosine, tie))
      assert(r.getInt(0) == (if (tie < 0) 5 else 2))
      assert(r.getDouble(1) == cosine(Array(1.0, 0.0), centM(r.getInt(0))),
        "the reported sim must stay unquantized")
    }
  }

  test("train with tieDecimals = 9 equals the quantized plain-Scala loop") {
    val (cent, asg) = KMeans.train(pointsDf(), Seq("id"), "seed", iters = 2,
      KMeans.Cosine, tieDecimals = 9)
    val (wantCent, wantAsg) = lloyd(points, 2, KMeans.Cosine, tieDecimals = 9)
    assertCentroids(centMap(cent), wantCent)
    assert(asg.select("id", "cluster").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap == wantAsg)
  }

  // ---- the sf0.01 fixture -----------------------------------------------

  private def objective(assigned: DataFrame): Double =
    assigned.agg(avg("sim")).collect()(0).getDouble(0)

  test("objective is monotone non-decreasing across Lloyd rounds") {
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"),
        col("label").cast("int").as("cluster"))
      .persist()
    var assigned = KMeans.assign(
      v.select("vec_id", "e"), KMeans.centroids(v), Seq("vec_id"))
    var prev = objective(assigned)
    (1 to 3).foreach { i =>
      assigned = KMeans.assign(
        v.select("vec_id", "e"), KMeans.centroids(assigned), Seq("vec_id"))
        .localCheckpoint()
      val cur = objective(assigned)
      info(f"round $i objective: $prev%.4f -> $cur%.4f")
      assert(cur >= prev - 1e-9, f"objective decreased: $prev%.4f -> $cur%.4f")
      prev = cur
    }
    v.unpersist()
  }

  test("planted twin clusters land with their base vector") {
    // sparse planted fixture: every 50th vector + 10 twins at cos~0.9995
    val planted = graft.operators.VectorQueries
      .plantedEmbeddings(spark, dir, everyNth = 50, nTwins = 10)
    val result = KMeans.run(planted.withColumn("seed",
        (col("vec_id") % 8).cast("int")),
      "vec_id", "e", "seed", iters = 3)
    val byCluster = result.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    // each twin must share its base's final cluster (they are nearly
    // identical vectors; any sane partition keeps them together)
    val bases = byCluster.keys.filter(id => id < 1000000 && id % 50 == 0)
    bases.foreach { b =>
      (1 to 10).foreach { t =>
        val twin = 1000000 + b * 16 + t
        assert(byCluster(twin) == byCluster(b),
          s"twin $twin split from base $b")
      }
    }
  }
}
