package graft

import org.apache.spark.sql.functions._

import graft.tools.Scale

/** The scale harness checks itself: each family's line carries the
  * flags that say its replicas reproduced the 1× answer. Runs the
  * families that read tables every tier loads (lineitem, events) at
  * factors 1 and 2, plus the embeddings generator's replica geometry. */
class ScaleSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private def lines(family: String, args: String*): Seq[Map[String, Any]] = {
    val out = Seq.newBuilder[Map[String, Any]]
    Scale.run(spark, family, Seq(1, 2), args)(l => out += l.toMap)
    out.result()
  }

  test("graph family: every structural count is exactly factor × the 1× count") {
    val ls = lines("graph", dir)
    assert(ls.map(_("factor")) == Seq(1, 2))
    assert(ls.forall(_("counts_exact") == true), ls)
  }

  test("event family: extensive outputs ×factor, intensive ones unchanged") {
    val ls = lines("event", dir)
    assert(ls.forall(_("counts_exact") == true), ls)
    assert(ls(1)("n_events") == 2 * ls(0)("n_events").asInstanceOf[Long])
  }

  test("skew family: event counts exact and the three join forms and " +
      "the argmax/window pick agree") {
    val ls = lines("skew", dir, "10")
    assert(ls.forall(l => l("n_events_exact") == true &&
      l("latest_parity") == true && l("join_parity") == true), ls)
  }

  test("JSON lines keep field order and print doubles with 2 decimals") {
    assert(Scale.json(Seq("metric" -> "x", "n" -> 3L, "ok" -> true,
      "sec" -> 1.234, "secs" -> Seq(0.5, 2.0))) ==
      """{"metric":"x","n":3,"ok":true,"sec":1.23,"secs":[0.50,2.00]}""")
  }

  test("embedding sign patterns are pairwise distinct per replica") {
    val ps = (0 until 30).map(Scale.signPattern)
    assert(ps.distinct.size == ps.size)
    assert(ps.head == 0L && ps.tail.forall(_ != 0L))
  }

  test("a factor-3 embeddings fixture plants no cross-replica near-duplicates") {
    val src = spark.read.parquet(s"$dir/embeddings.parquet")
    val vs = Scale.embeddings(src, 3)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0) / Scale.DocShift, r.getSeq[Double](1).toArray))
    assert(vs.length == 3 * src.count())
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.indices.map(i => a(i) * b(i)).sum
      d / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    }
    val worst = (for {
      (ra, a) <- vs.iterator; (rb, b) <- vs.iterator if ra < rb
    } yield math.abs(cos(a, b))).max
    assert(worst < 0.999, s"cross-replica |cosine| reached $worst")
    // within a replica the geometry is exact: replica 1 reproduces the
    // source's pairwise dot products
    val byId = Scale.embeddings(src, 2)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val ids = src.select("vec_id").collect().map(_.getAs[Number](0).longValue).sorted
    val r0 = ids.take(2).map(byId)
    val r1 = ids.take(2).map(i => byId(i + Scale.DocShift))
    def dot(a: Array[Double], b: Array[Double]) = a.indices.map(i => a(i) * b(i)).sum
    assert(dot(r1(0), r1(1)) == dot(r0(0), r0(1)))
  }
}
